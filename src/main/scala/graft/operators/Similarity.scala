package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over an embedding column (`array<float>`).
  *
  * Numeric discipline: embeddings are quantized per-element with
  * `floor(x*1e6 + 0.5)` into BIGINTs, so dot products and norms are
  * exact integers — order-insensitive, engine-portable, and still
  * rank-equivalent to float cosine at 1e-6 resolution. Cosine itself
  * (`dot / (√n_a·√n_b)`) is then a deterministic double (single IEEE
  * divide of exact ints) used for ranking only; persisted outputs are
  * the integer dot products.
  *
  * Scale paths:
  *  - [[cosineTopK]] — brute force: broadcast the (small) query set,
  *    one pass over the corpus, per-query top-k via window. At 100 TB
  *    this is the exact baseline — a single scan, no shuffle of the
  *    corpus, only k rows per (query, partition) survive the partial
  *    top-k.
  *  - [[lshBucketedNeighbors]] — sign-random-projection LSH: 16
  *    deterministic integer hyperplanes → 16-bit bucket; candidates
  *    collide on the bucket. Sub-linear probe cost; recall tunable by
  *    planes/probes. The bucket join shuffles only (bucket, id, vec).
  */
object Similarity {

  /** Default occupancy cap for the banded-LSH embedding candidate
    * generators ([[knnGraph]], [[cosineNearDupPairs]],
    * [[nnDescentRefine]] seeds). The banded self-join emits
    * ~occupancy² candidates per (band, bucket); the default 4×4-bit
    * banding has only 16 buckets/band, so occupancy grows LINEARLY
    * with the corpus and the r13 sf10 smoke measured the uncapped
    * form unrunnable at 200k vectors (~10¹⁰ candidates). Cap 128
    * bounds every block to ~128²=16k candidate rows (the 200k-vector
    * smoke shape sub-splits ~100×) while staying a no-op on corpora
    * whose buckets hold ≤ 128 vectors. Wider than
    * [[Dedup.DefaultOccupancyCap]] because embedding bands are
    * coarser than minhash band signatures: a sub-split here costs
    * candidate recall directly, so the cap only engages where the
    * quadratic blow-up is already underway.
    */
  val DefaultBandCap: Int = 128

  /** [[CacheSlot]] for the in-memory band table of the most recent
    * [[bandedCandidates]] call (session-lifetime `.cache()` frames
    * otherwise accumulate one band table per operator call — the r14
    * leak).
    */
  private val bandSlot = new CacheSlot

  /** Free the band table cached by the most recent banded operator
    * call ([[knnGraph]] / [[cosineNearDupPairs]] / [[nnDescentRefine]]
    * construction). Harness loops that build many banded plans in one
    * session should call this after consuming each result.
    */
  def releaseBandCache(): Unit = bandSlot.release()

  /** `floor(x·1e6 + 0.5)` per element — the exactness contract.
    * Native codegen kernel; the HOF twin
    * `transform(vec, x => floor(x.cast("double")*1e6 + 0.5).cast("long"))`
    * is bit-identical (differential-tested in SimilaritySpec).
    */
  def quantize(vec: Column): Column = graft.functions.NativeOps.quantizeE6(vec)

  /** Exact integer dot product of two quantized vectors (native kernel —
    * the hot loop of every pairwise scorer).
    */
  def dotQ(a: Column, b: Column): Column = graft.functions.NativeOps.dotQ(a, b)

  /** Squared norm of a quantized vector (native kernel). */
  def normQ(a: Column): Column = graft.functions.NativeOps.normQ(a)

  private[graft] def withQuant(embeddings: DataFrame): DataFrame =
    embeddings.select(
      col("vec_id"),
      quantize(col("embedding")).as("q"))
      .withColumn("nq", normQ(col("q")))

  /** Brute-force cosine top-k: for each query vector (`queryPred`
    * selects the query subset), the `k` nearest corpus vectors by
    * cosine, self excluded, ties broken by neighbor id. Output:
    * `(query_id, neighbor_id, dot_q, rank)` — all exact integers.
    */
  def cosineTopK(embeddings: DataFrame, queryPred: Column, k: Int): DataFrame =
    cosineTopKQ(withQuant(embeddings), queryPred, k)

  /** [[cosineTopK]] over an ALREADY-quantized corpus `(vec_id, q,
    * nq)` — the entry point for integer embeddings the engine itself
    * produced (e.g. [[graft.operators.GraphOps.sgnsTrain]]'s q10
    * vectors feeding the DeepWalk → ANN composition), where
    * re-quantizing would corrupt the values. Same contract: per query
    * the `k` nearest corpus vectors by cosine, self excluded, ties by
    * neighbor id; `vec_id` may be any equality-comparable type.
    */
  def cosineTopKQ(corpus: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val queries = corpus.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("q").as("qq"), col("nq").as("qn"))
    val scored = corpus.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"),
        dotQ(col("qq"), col("q")).as("dot_q"),
        (col("qn").cast("double") * col("nq").cast("double")).as("nn"))
      .withColumn("cos", col("dot_q").cast("double") / sqrt(col("nn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("dot_q"), col("rank"))
  }

  /** Matryoshka truncated-dimension retrieval (Kusupati et al. 2022,
    * "Matryoshka Representation Learning"): cosine top-k over the
    * FIRST `dims` components of every embedding — the cheap first
    * stage of MRL-style coarse-to-fine retrieval, where a prefix of
    * an MRL-trained vector is itself a valid lower-capacity
    * embedding. Exactly [[cosineTopK]]'s contract (quantized-integer
    * dots, self excluded, ties by neighbor id) on the sliced vectors.
    *
    * Scale shape: the slice is a narrow per-row projection applied
    * BEFORE quantization, so the whole pipeline — broadcast query
    * side, single corpus pass, partial window top-k — moves `dims/d`
    * of the payload bytes of the full-dim query. At 100 TB that
    * payload shrink is the point: a 4× prefix cut is a 4× scan-side
    * byte cut on the dominant cost.
    */
  def matryoshkaTopK(
      embeddings: DataFrame, queryPred: Column, k: Int, dims: Int): DataFrame = {
    require(dims > 0, s"matryoshkaTopK: dims must be positive, got $dims")
    cosineTopK(
      embeddings.withColumn("embedding", slice(col("embedding"), 1, dims)),
      queryPred, k)
  }

  /** Brute-force maximum-inner-product top-k (MIPS) — cosine's
    * unnormalized sibling and the actual retrieval objective when
    * vector magnitude carries signal (recommender item scores,
    * popularity-weighted embeddings). Entirely integer: ranking is on
    * the exact quantized dot product, so unlike [[cosineTopK]] there
    * is no double in the ordering at all. Same scale shape: broadcast
    * query side, single corpus pass, partial window-group-limit top-k.
    */
  def mipsTopK(embeddings: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val corpus = withQuant(embeddings).select(col("vec_id"), col("q"))
    val queries = corpus.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("q").as("qq"))
    val scored = corpus.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"),
        dotQ(col("qq"), col("q")).as("dot_q"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot_q").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("dot_q"), col("rank"))
  }

  /** Deterministic integer hyperplane weight for (dimension i, plane j):
    * `((i+1)*1103515245 + (j+1)*12345) mod 2001 − 1000`. Same closed
    * form in the SQL oracle — no RNG state to ship.
    */
  def planeWeight(i: Column, j: Column): Column =
    ((i + 1) * 1103515245L + (j + 1) * 12345L) % 2001L - 1000L

  /** Sign-random-projection bucket id: bit `j` of the bucket is the
    * sign of `Σ_i q_i · w(i,j)` over `planes` integer hyperplanes.
    */
  def lshBucket(q: Column, planes: Int): Column = lshBucketRange(q, 0, planes)

  /** Bucket over the plane range `[offset, offset+n)` — bit `j` uses
    * global plane `offset + j`, so bands draw disjoint hyperplanes.
    */
  private def lshBucketRange(q: Column, offset: Int, n: Int): Column = {
    val bits = (0 until n).map { j =>
      val jj = (offset + j).toLong
      val s = aggregate(
        zip_with(q, sequence(lit(0), size(q) - 1), (x, i) => x * planeWeight(i, lit(jj))),
        lit(0L), (acc, v) => acc + v)
      when(s >= 0, lit(1L) * (1L << j)).otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  /** Banded LSH buckets: `bands` entries of `(band, bucket)`, band `b`
    * hashing planes `[b·rowsPerBand, (b+1)·rowsPerBand)`. OR-construction:
    * two vectors are candidates iff ANY band bucket matches — the
    * standard recall amplifier (a single AND-of-all-planes bucket has
    * collision probability (1−θ/π)^planes, near zero even for close
    * pairs; banding raises it to 1−(1−p^r)^b).
    */
  def lshBandBuckets(q: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(
        lit(b.toLong).as("band"),
        lshBucketRange(q, b * rowsPerBand, rowsPerBand).as("bucket"))
    }: _*)

  /** LSH-bucketed ANN: queries probe only their own bucket. Returns all
    * same-bucket candidates with exact integer dot products —
    * `(query_id, neighbor_id, dot_q)`. Recall < 1 by construction; the
    * scale path for corpora where brute force is off-budget.
    */
  def lshBucketedNeighbors(embeddings: DataFrame, queryPred: Column, planes: Int = 16): DataFrame = {
    val corpus = withQuant(embeddings).withColumn("bucket", lshBucket(col("q"), planes))
    val queries = corpus.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("q").as("qq"), col("bucket"))
    corpus.join(broadcast(queries), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"),
        dotQ(col("qq"), col("q")).as("dot_q"))
  }

  /** MULTI-PROBE LSH (Lv et al. 2007, "Multi-Probe LSH: Efficient
    * Indexing for High-Dimensional Similarity Search"): queries probe
    * their own bucket PLUS the `probes` buckets reached by flipping
    * the sign bits with the smallest projection MAGNITUDE — the bits
    * most likely wrong for a true near neighbor sitting just across a
    * hyperplane. Recall rises with `probes` at probe-proportional
    * candidate cost, WITHOUT growing the index (the knob the
    * single-bucket form lacks: its only recall lever is rebuilding
    * with fewer planes, which inflates every bucket).
    *
    * Deterministic and engine-exact: projections are exact integers
    * (the [[planeWeight]] closed form), flip order is
    * `(|projection| asc, plane asc)`, and each corpus vector lives in
    * exactly ONE bucket so probes never produce duplicate candidates.
    * Returns the [[lshBucketedNeighbors]] candidate family —
    * `(query_id, neighbor_id, dot_q)`, self excluded.
    *
    * Scale shape: identical to the single-probe form — the corpus is
    * bucketed in one narrow projection and the query side (now
    * `probes + 1` rows per query) broadcasts; candidates stream out of
    * the bucket join at Σ occupancy(probed buckets) per query.
    */
  def lshMultiProbeNeighbors(
      embeddings: DataFrame,
      queryPred: Column,
      planes: Int = 16,
      probes: Int = 4): DataFrame = {
    require(planes >= 1 && planes <= 62, s"planes must be in [1, 62], got $planes")
    require(probes >= 0 && probes <= planes,
      s"probes must be in [0, planes], got $probes")
    val corpus = withQuant(embeddings)
      .withColumn("bucket", lshBucket(col("q"), planes))
    val flips = array((0 until planes).map { j =>
      val sv = aggregate(
        zip_with(col("q"), sequence(lit(0), size(col("q")) - 1),
          (x, i) => x * planeWeight(i, lit(j.toLong))),
        lit(0L), (acc, v) => acc + v)
      struct(abs(sv).as("a"), lit(j.toLong).as("j"),
        col("bucket").bitwiseXOR(lit(1L << j)).as("fb"))
    }: _*)
    val queries = corpus.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("q").as("qq"),
        col("bucket"), flips.as("flips"))
      .select(col("query_id"), col("qq"),
        explode(concat(
          array(col("bucket")),
          transform(slice(array_sort(col("flips")), 1, probes),
            s => s.getField("fb")))).as("bucket"))
    corpus.join(broadcast(queries), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"),
        dotQ(col("qq"), col("q")).as("dot_q"))
  }

  /** Nearest-cell id as ONE narrow codegen projection: fold over a
    * LITERAL array of `(cid, cq, cnq)` centroids (ascending cid, so
    * strict-`>` keeps the lowest cid on cosine ties — identical to a
    * `row_number` over (ccos DESC, cid ASC)). Centroid sets are
    * k·dim longs, bounded regardless of corpus size, so shipping them
    * as an expression literal is always legal — and the assignment
    * then needs NO join, NO ×k row blowup, and NO per-vector window
    * shuffle over the corpus. Expects `q`/`nq` columns in scope.
    */
  private def bestCellExpr(cents: Seq[(Long, Seq[Long], Long)]): Column = {
    val arr = typedLit(cents)
    aggregate(
      arr,
      struct(lit(-1L).as("cid"), lit(Double.NegativeInfinity).as("s")),
      (acc, c) => {
        val dot = aggregate(
          zip_with(col("q"), c.getField("_2"), (x, y) => x * y),
          lit(0L), (a, v) => a + v)
        val s = dot.cast("double") /
          sqrt(col("nq").cast("double") * c.getField("_3").cast("double"))
        when(s > acc.getField("s"),
          struct(c.getField("_1").as("cid"), s.as("s"))).otherwise(acc)
      }).getField("cid")
  }

  private def withNorm3(cents: Array[(Long, Seq[Long])]): Seq[(Long, Seq[Long], Long)] =
    cents.sortBy(_._1).map { case (cid, q) => (cid, q, q.map(x => x * x).sum) }.toSeq

  /** Deterministic Lloyd k-means over the quantized corpus — real IVF
    * centroids (vs the `vec_id < k` stand-in).
    *
    * Init is hash-seeded: the `k` vectors with the smallest
    * `xxhash64(vec_id)` — pseudo-random spread, rerun-stable, no RNG
    * state. Each of the (small, fixed) `iters` rounds is ONE narrow
    * corpus pass ([[bestCellExpr]] literal-array argmax — no join, no
    * window), then an element-wise integer mean per cell (k·dim
    * grouped rows). The centroid set itself lives on the driver
    * between rounds — k·dim longs, bounded regardless of corpus size
    * (the same structure Spark MLlib's KMeans uses). Empty or all-zero
    * cells keep their previous centroid.
    */
  private[graft] def kmeansCentroidsQ(corpus: DataFrame, k: Int, iters: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    def centsDf(cents: Array[(Long, Seq[Long])]): DataFrame =
      cents.toSeq.toDF("cid", "cq").withColumn("cnq", normQ(col("cq")))
    // zero-norm vectors make every cosine against them NaN (and Spark
    // orders NaN largest), so they are never eligible as centroids
    var cents: Array[(Long, Seq[Long])] = corpus
      .filter(col("nq") > 0)
      .select(col("vec_id"), col("q"))
      .orderBy(xxhash64(col("vec_id")).asc, col("vec_id").asc)
      .limit(k)
      .collect().zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Long](1)) }
    if (cents.isEmpty) return centsDf(cents) // empty corpus -> empty cells
    for (_ <- 0 until iters) {
      // one narrow pass: literal-array argmax assignment (no join, no
      // window), then the element-wise integer mean per cell
      val sums = corpus
        .withColumn("cid", bestCellExpr(withNorm3(cents)))
        .select(col("cid"), posexplode(col("q")).as(Seq("pos", "v")))
        .groupBy(col("cid"), col("pos"))
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
        .groupBy(col("cid"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"),
            floor(col("sv") / col("n")).cast("long").as("m")))),
          s => s("m")).as("cq"))
      val next = sums.collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
      cents = cents.map { case (cid, old) =>
        val c = next.getOrElse(cid, old)
        (cid, if (c.forall(_ == 0L)) old else c)
      }
    }
    centsDf(cents)
  }

  /** Nearest-codebook-entry id for ONE product-quantization subspace,
    * as a narrow codegen projection (the [[bestCellExpr]] device on the
    * L2 objective): `argmin_c ‖sub − c‖²` = `argmin_c (‖c‖² − 2·sub·c)`
    * — the row's own norm is constant under the argmin, so the score
    * stays a pure BIGINT (no doubles anywhere). Fold over a literal
    * `(cid, cq, cnq)` array ascending in cid; strict `<` keeps the
    * lowest cid on ties — identical to `row_number` over
    * `(score ASC, cid ASC)`.
    */
  private def bestCodeExpr(cents: Seq[(Long, Seq[Long], Long)], sub: Column): Column = {
    val arr = typedLit(cents)
    aggregate(
      arr,
      struct(lit(-1L).as("cid"), lit(Long.MaxValue).as("s")),
      (acc, c) => {
        val dot = aggregate(
          zip_with(sub, c.getField("_2"), (x, y) => x * y),
          lit(0L), (a, v) => a + v)
        val s = c.getField("_3") - lit(2L) * dot
        when(s < acc.getField("s"),
          struct(c.getField("_1").as("cid"), s.as("s"))).otherwise(acc)
      }).getField("cid")
  }

  /** Product-quantization codebooks: `m` independent codebooks of
    * `ksub` entries each, one per 1/m-th slice of the vector.
    * `iters = 0` is the closed-form stand-in (the `vec_id < ksub`
    * rows' subvectors, codes 0..ksub−1 in vec_id order — SQL-oracle
    * replicable, the [[ivfTopK]] convention); `iters > 0` trains each
    * subspace with deterministic L2 Lloyd rounds (hash-seeded init,
    * literal-argmin assignment, integer-mean update — the
    * [[kmeansCentroidsQ]] structure per subspace; empty cells keep
    * their previous entry). Returns per subspace the cid-ascending
    * `(cid, cq, cnq)` literal set; entries are ksub·(dim/m) longs —
    * driver-bounded regardless of corpus size.
    */
  private[graft] def pqCodebooksQ(
      corpus: DataFrame, m: Int, ksub: Int, iters: Int): Seq[Seq[(Long, Seq[Long], Long)]] = {
    val subLen = (j: Int, dim: Int) => dim / m
    if (iters == 0) {
      val rows = corpus.filter(col("vec_id") < ksub)
        .select(col("vec_id"), col("q"))
        .orderBy(col("vec_id").asc)
        .collect().map(r => r.getSeq[Long](1))
      (0 until m).map { j =>
        rows.zipWithIndex.map { case (q, i) =>
          val d = q.length / m
          val sub = q.slice(j * d, j * d + d)
          (i.toLong, sub, sub.map(x => x * x).sum)
        }.toSeq
      }
    } else {
      (0 until m).map { j =>
        // per-subspace corpus: one narrow slice projection
        val subCorpus = corpus.select(
          col("vec_id"),
          expr(s"slice(q, ${j} * (size(q) div $m) + 1, size(q) div $m)").as("sq"))
        var cents: Array[(Long, Seq[Long])] = subCorpus
          .orderBy(xxhash64(col("vec_id")).asc, col("vec_id").asc)
          .limit(ksub)
          .collect().zipWithIndex
          .map { case (r, i) => (i.toLong, r.getSeq[Long](1)) }
        for (_ <- 0 until iters if cents.nonEmpty) {
          val lit3 = cents.sortBy(_._1)
            .map { case (cid, q) => (cid, q, q.map(x => x * x).sum) }.toSeq
          val sums = subCorpus
            .withColumn("cid", bestCodeExpr(lit3, col("sq")))
            .select(col("cid"), posexplode(col("sq")).as(Seq("pos", "v")))
            .groupBy(col("cid"), col("pos"))
            .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
            .groupBy(col("cid"))
            .agg(transform(
              array_sort(collect_list(struct(col("pos"),
                floor(col("sv") / col("n")).cast("long").as("mv")))),
              s => s("mv")).as("cq"))
          val next = sums.collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
          cents = cents.map { case (cid, old) => (cid, next.getOrElse(cid, old)) }
        }
        cents.sortBy(_._1)
          .map { case (cid, q) => (cid, q, q.map(x => x * x).sum) }.toSeq
      }
    }
  }

  /** Product-quantization encoding: each vector reduced to `m` codes,
    * code `j` = nearest entry of codebook `j` to the vector's j-th
    * slice under exact integer L2 ([[bestCodeExpr]]). Output one row
    * per `(vec_id, subspace, code)` — the persistable PQ index, dim·4
    * bytes/vector down to m codes/vector. Unlike the cosine family,
    * zero-norm vectors are VALID here (L2 needs no normalization) —
    * they encode to whatever entry is nearest the origin.
    *
    * Scale shape: encoding is one narrow literal-argmin projection per
    * subspace in a single corpus pass — no join, no shuffle, no ×ksub
    * row blowup; the codebooks ride along as expression literals
    * (ksub·dim longs, driver-bounded).
    */
  def pqEncode(
      embeddings: DataFrame,
      m: Int = 4,
      ksub: Int = 16,
      iters: Int = 0): DataFrame = {
    require(m >= 1, s"m must be >= 1, got $m")
    require(ksub >= 1, s"ksub must be >= 1, got $ksub")
    val corpus = withQuant(embeddings)
    val cbs = pqCodebooksQ(corpus, m, ksub, iters)
    if (cbs.exists(_.isEmpty))
      return corpus.limit(0).select(
        col("vec_id"), col("nq").as("subspace"), col("nq").as("code"))
    val coded = corpus.select(
      col("vec_id") +: (0 until m).map { j =>
        val sub = expr(s"slice(q, $j * (size(q) div $m) + 1, size(q) div $m)")
        bestCodeExpr(cbs(j), sub).as(s"c$j")
      }: _*)
    coded.select(
      col("vec_id"),
      posexplode(array((0 until m).map(j => col(s"c$j")): _*)))
      .select(
        col("vec_id"), col("pos").cast("long").as("subspace"),
        col("col").as("code"))
  }

  /** PQ/ADC approximate top-k (asymmetric distance computation —
    * Jégou et al. 2011, the IVF-PQ memory half): the corpus is scored
    * against a query through its `m` codes only — per subspace, the
    * exact integer squared distance from the query's slice to the
    * corpus row's CODEBOOK ENTRY, summed across subspaces:
    * `adist(q, x) = ‖q‖² + Σ_j (‖c_{j,code_j(x)}‖² − 2·q_j·c_{j,code_j(x)})`
    * — exactly `‖q − recon(x)‖²` for the reconstruction from x's
    * codes (spec-pinned). All-BIGINT end to end; ranking ascending
    * distance, ties by neighbor id; self excluded. Output
    * `(query_id, neighbor_id, adist_q, rank)`.
    *
    * `iters` picks the codebook tier ([[pqCodebooksQ]]): 0 =
    * closed-form stand-in (SQL-oracle replicable), > 0 = trained
    * (spec-gated, like [[ivfTopK]]'s k-means tier).
    *
    * Scale shape — why PQ matters at 100 TB: after the one-pass
    * encode (narrow projection, no shuffle), scoring touches only the
    * m codes per corpus row plus broadcast literals; the full vectors
    * never re-enter the plan past the scan, so the scored stream the
    * per-query partial top-k (WindowGroupLimit) consumes is
    * codes-sized, not vector-sized — the 64× payload compression is
    * what lets a corpus-wide ANN sweep run from what amounts to an
    * in-memory index.
    */
  def pqTopK(
      embeddings: DataFrame,
      queryPred: Column,
      m: Int = 4,
      ksub: Int = 16,
      k: Int = 5,
      iters: Int = 0): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val corpus = withQuant(embeddings)
    val cbs = pqCodebooksQ(corpus, m, ksub, iters)
    if (cbs.exists(_.isEmpty))
      return corpus.limit(0).select(
        col("vec_id").as("query_id"), col("vec_id").as("neighbor_id"),
        col("nq").as("adist_q"), col("nq").as("rank"))
    val coded = corpus.select(
      col("vec_id") +: (0 until m).map { j =>
        val sub = expr(s"slice(q, $j * (size(q) div $m) + 1, size(q) div $m)")
        bestCodeExpr(cbs(j), sub).as(s"c$j")
      }: _*)
    val queries = corpus.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("q").as("qq"), col("nq").as("qn"))
    val adcPart = (0 until m).map { j =>
      val entry = element_at(typedLit(cbs(j)), (col(s"c$j") + 1).cast("int"))
      val qSub = expr(s"slice(qq, $j * (size(qq) div $m) + 1, size(qq) div $m)")
      entry.getField("_3") - lit(2L) * dotQ(qSub, entry.getField("_2"))
    }.reduce(_ + _)
    val scored = coded.join(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"),
        (col("qn") + adcPart).as("adist_q"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist_q").asc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("adist_q"), col("rank"))
  }

  /** Frozen PQ index: the per-subspace codebooks
    * `(subspace, cid, cq, cnq)` plus the encoded corpus
    * `(vec_id, c0..c{m-1})` — m bytes/vector, the persistable ADC
    * artifact. Same `.materialized` contract as [[IvfIndex]].
    */
  case class PqIndex(codebooks: DataFrame, codes: DataFrame, m: Int) {
    /** Persist + reload both frames — train once, probe forever. */
    def materialized(dir: String): PqIndex =
      PqIndex(frozenFrame(codebooks, dir, "codebooks"),
        frozenFrame(codes, dir, "codes"), m)
  }

  /** Train the PQ codebooks and encode the corpus (tiers as in
    * [[pqTopK]]: `iters = 0` closed-form stand-in, `> 0` per-subspace
    * Lloyd rounds).
    */
  def pqBuild(embeddings: DataFrame, m: Int = 4, ksub: Int = 16,
      iters: Int = 0): PqIndex = {
    require(m >= 1 && ksub >= 1, s"need m, ksub >= 1; got $m, $ksub")
    val corpus = withQuant(embeddings)
    val cbs = pqCodebooksQ(corpus, m, ksub, iters)
    val spark = embeddings.sparkSession
    import spark.implicits._
    val cbRows = cbs.zipWithIndex.flatMap { case (cb, j) =>
      cb.map { case (cid, cq, cnq) => (j.toLong, cid, cq, cnq) }
    }.toDF("subspace", "cid", "cq", "cnq")
    val codes =
      if (cbs.exists(_.isEmpty))
        corpus.limit(0).select(
          col("vec_id") +: (0 until m).map(j => col("nq").as(s"c$j")): _*)
      else corpus.select(
        col("vec_id") +: (0 until m).map { j =>
          val sub = expr(s"slice(q, $j * (size(q) div $m) + 1, size(q) div $m)")
          bestCodeExpr(cbs(j), sub).as(s"c$j")
        }: _*)
    PqIndex(cbRows, codes, m)
  }

  /** Probe a (frozen or inline) PQ index with an external query set
    * `(vec_id, embedding)`: [[pqTopK]]'s exact-integer ADC over the
    * frozen codes — the codebooks collect back to expression literals
    * (ksub·dim longs, driver-bounded by construction).
    */
  def pqProbe(index: PqIndex, queryVecs: DataFrame, k: Int = 5): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val m = index.m
    val bySub = index.codebooks
      .select(col("subspace"), col("cid"), col("cq"), col("cnq"))
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getSeq[Long](2), r.getLong(3))))
      .groupBy(_._1)
    val cbs = (0 until m).map(j =>
      bySub.getOrElse(j.toLong, Array.empty).map(_._2).sortBy(_._1).toSeq)
    val qcorpus = withQuant(queryVecs)
    if (cbs.exists(_.isEmpty))
      return qcorpus.limit(0).select(
        col("vec_id").as("query_id"), col("vec_id").as("neighbor_id"),
        col("nq").as("adist_q"), col("nq").as("rank"))
    val queries = qcorpus
      .select(col("vec_id").as("query_id"), col("q").as("qq"), col("nq").as("qn"))
    val adcPart = (0 until m).map { j =>
      val entry = element_at(typedLit(cbs(j)), (col(s"c$j") + 1).cast("int"))
      val qSub = expr(s"slice(qq, $j * (size(qq) div $m) + 1, size(qq) div $m)")
      entry.getField("_3") - lit(2L) * dotQ(qSub, entry.getField("_2"))
    }.reduce(_ + _)
    val scored = index.codes.join(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"),
        (col("qn") + adcPart).as("adist_q"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist_q").asc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("adist_q"), col("rank"))
  }

  /** IVF (inverted-file) approximate nearest neighbors — the coarse-
    * quantizer scale path: assign every corpus vector to its nearest of
    * `nCentroids` centroid cells; queries probe only their `nProbe`
    * nearest cells; exact top-k runs within the probed candidates.
    *
    * Centroids come from [[kmeansCentroidsQ]] (`kmeansIters` Lloyd
    * rounds, hash-seeded deterministic init); `kmeansIters = 0` selects
    * the `vec_id < nCentroids` stand-in instead — closed-form, so an
    * external SQL oracle can replicate the whole operator including
    * restricted-probe behavior. Corpus assignment is the narrow
    * [[bestCellExpr]] argmax (one projection pass, no shuffle); probes
    * keep the broadcast-join + top-nProbe window (small query set); the
    * candidate join shuffles on the cell id — recall is tunable by
    * nProbe, cost scales with corpus/nCentroids per probe instead of
    * the whole corpus. Zero-norm vectors are a documented edge: their
    * cosine is NaN and they assign to no cell (cid −1), excluded from
    * candidates.
    */
  def ivfTopK(
      embeddings: DataFrame,
      queryPred: Column,
      nCentroids: Int,
      nProbe: Int,
      k: Int,
      kmeansIters: Int = 4): DataFrame = {
    val index = ivfBuild(embeddings, nCentroids, kmeansIters)
    ivfProbeQ(index,
      index.assigned.filter(queryPred)
        .select(col("vec_id"), col("q"), col("nq")),
      nProbe, k)
  }

  /** Frozen IVF index — the coarse centroids `(cid, cq, cnq)` plus
    * the cell-assigned quantized corpus `(vec_id, q, nq, cid)`. The
    * `.materialized` train-once/probe-forever contract
    * ([[graft.operators.TextOps.NbModel]] precedent) for the
    * retrieval tier: a serving path builds the index once, persists
    * it, and every query batch probes the frozen frames —
    * [[ivfTopK]] is now exactly `ivfBuild` + [[ivfProbe]] in one
    * plan, so frozen-reload ≡ inline is a law, not a hope
    * (SimilaritySpec pins it).
    */
  case class IvfIndex(centroids: DataFrame, assigned: DataFrame) {
    /** Persist + reload both frames — train once, probe forever. */
    def materialized(dir: String): IvfIndex =
      IvfIndex(frozenFrame(centroids, dir, "centroids"),
        frozenFrame(assigned, dir, "assigned"))
  }

  /** Parquet round-trip for frozen index frames (the
    * `NbModel.materialized` device).
    */
  private def frozenFrame(df: DataFrame, dir: String, sub: String): DataFrame = {
    df.write.mode("overwrite").parquet(s"$dir/$sub")
    df.sparkSession.read.parquet(s"$dir/$sub")
  }

  /** Train the IVF coarse structure and assign every corpus vector to
    * its cell. `kmeansIters = 0` uses the closed-form stand-in
    * centroids (first `nCentroids` nonzero vectors — SQL-replicable),
    * `> 0` the real k-means tier.
    */
  def ivfBuild(embeddings: DataFrame, nCentroids: Int,
      kmeansIters: Int = 4): IvfIndex = {
    val corpus = withQuant(embeddings)
    // nq > 0 on the stand-in: a zero-norm centroid scores NaN against
    // every vector, and Spark orders NaN largest — the degenerate cell
    // would capture the whole corpus (and diverge from the oracle)
    val cents =
      if (kmeansIters > 0) kmeansCentroidsQ(corpus, nCentroids, kmeansIters)
      else corpus.filter(col("vec_id") < nCentroids && col("nq") > 0)
        .select(col("vec_id").as("cid"), col("q").as("cq"), col("nq").as("cnq"))
    // CORPUS assignment is the narrow literal-array argmax — the
    // join+window form would blow the corpus up ×nCentroids and then
    // shuffle-sort it per vector, the one non-scalable step of the
    // textbook composition. Centroids are k·dim longs (driver-bounded),
    // so collecting them is always legal.
    val centsArr = cents.select(col("cid"), col("cq"), col("cnq"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
      .sortBy(_._1).toSeq
    IvfIndex(cents, corpus.withColumn("cid", bestCellExpr(centsArr)))
  }

  /** Probe a (frozen or inline) IVF index with an external query set
    * `(vec_id, embedding)`: route each query to its `nProbe` nearest
    * cells by centroid cosine, exact-rank the probed cells'
    * candidates. The query path of [[ivfTopK]] divorced from the
    * build — what a serving deployment runs per batch.
    */
  def ivfProbe(index: IvfIndex, queryVecs: DataFrame,
      nProbe: Int, k: Int): DataFrame =
    ivfProbeQ(index, withQuant(queryVecs), nProbe, k)

  private[graft] def ivfProbeQ(index: IvfIndex, qcorpus: DataFrame,
      nProbe: Int, k: Int): DataFrame = {
    // PROBE side stays join+window: the query set is small and needs
    // top-nProbe cells, not an argmax
    val probes = {
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("ccos").desc, col("cid").asc)
      qcorpus.join(broadcast(index.centroids))
        .withColumn("ccos",
          dotQ(col("q"), col("cq")).cast("double") /
            sqrt(col("nq").cast("double") * col("cnq").cast("double")))
        .withColumn("crn", row_number().over(w))
        .filter(col("crn") <= nProbe)
        .drop("cq", "cnq", "ccos", "crn")
    }
      .select(col("vec_id").as("query_id"), col("q").as("qq"), col("nq").as("qn"), col("cid"))
    val scored = index.assigned.join(probes, Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"),
        dotQ(col("qq"), col("q")).as("dot_q"),
        (col("qn").cast("double") * col("nq").cast("double")).as("nn"))
      .withColumn("cos", col("dot_q").cast("double") / sqrt(col("nn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("dot_q"), col("rank"))
  }

  /** IVF-PQ two-stage retrieval — the composition every large ANN
    * service actually deploys (Jégou et al. 2011 §IV; the FAISS
    * `IVF…,PQ…` index family): the IVF coarse quantizer routes each
    * query to its `nProbe` nearest cells, and within the probed cells
    * candidates are scored through their `m` PQ codes only
    * ([[pqTopK]]'s exact-integer ADC), so a probe touches
    * `corpus/nCentroids · nProbe` rows of `m` codes each — neither
    * the whole corpus nor any full vector. This is the flat-PQ (non-
    * residual) variant: codes quantize the raw vectors, not the
    * cell-relative residuals, so one codebook set serves every cell
    * and the ADC scores are globally comparable ([[pqTopK]]
    * restricted to probed cells — the equivalence law SimilaritySpec
    * pins at full probe).
    *
    * `kmeansIters` / `pqIters` pick the coarse/codebook training
    * tiers exactly as in [[ivfTopK]] / [[pqTopK]] (0 = closed-form
    * stand-ins, SQL-oracle replicable). Zero-norm corpus vectors
    * assign to no cell (the [[ivfTopK]] edge) and so never surface,
    * unlike plain [[pqTopK]] — documented divergence at full probe.
    * Output `(query_id, neighbor_id, adist_q, rank)`, ascending
    * distance, ties by neighbor id, self excluded.
    *
    * Scale shape: cell assignment and encoding are each ONE narrow
    * literal-argmin projection over the corpus (no join, no shuffle,
    * codebooks/centroids are driver-bounded literals); the only
    * corpus-sized exchange is the candidate join on the cell id; the
    * scored stream into the per-query partial top-k is codes-sized.
    */
  def ivfPqTopK(
      embeddings: DataFrame,
      queryPred: Column,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      m: Int = 4,
      ksub: Int = 16,
      k: Int = 5,
      kmeansIters: Int = 0,
      pqIters: Int = 0): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val corpus = withQuant(embeddings)
    val cents =
      if (kmeansIters > 0) kmeansCentroidsQ(corpus, nCentroids, kmeansIters)
      else corpus.filter(col("vec_id") < nCentroids && col("nq") > 0)
        .select(col("vec_id").as("cid"), col("q").as("cq"), col("nq").as("cnq"))
    val cbs = pqCodebooksQ(corpus, m, ksub, pqIters)
    val centsArr = cents.select(col("cid"), col("cq"), col("cnq"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
      .sortBy(_._1).toSeq
    if (centsArr.isEmpty || cbs.exists(_.isEmpty))
      return corpus.limit(0).select(
        col("vec_id").as("query_id"), col("vec_id").as("neighbor_id"),
        col("nq").as("adist_q"), col("nq").as("rank"))
    // one pass: cell id + m codes per corpus row, both literal argmins
    val coded = corpus.select(
      col("vec_id") +: bestCellExpr(centsArr).as("cid") +:
        (0 until m).map { j =>
          val sub = expr(s"slice(q, $j * (size(q) div $m) + 1, size(q) div $m)")
          bestCodeExpr(cbs(j), sub).as(s"c$j")
        }: _*)
    val probes = {
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("ccos").desc, col("cid").asc)
      corpus.filter(queryPred).join(broadcast(cents))
        .withColumn("ccos",
          dotQ(col("q"), col("cq")).cast("double") /
            sqrt(col("nq").cast("double") * col("cnq").cast("double")))
        .withColumn("crn", row_number().over(w))
        .filter(col("crn") <= nProbe)
        .drop("cq", "cnq", "ccos", "crn")
    }
      .select(col("vec_id").as("query_id"), col("q").as("qq"),
        col("nq").as("qn"), col("cid"))
    val adcPart = (0 until m).map { j =>
      val entry = element_at(typedLit(cbs(j)), (col(s"c$j") + 1).cast("int"))
      val qSub = expr(s"slice(qq, $j * (size(qq) div $m) + 1, size(qq) div $m)")
      entry.getField("_3") - lit(2L) * dotQ(qSub, entry.getField("_2"))
    }.reduce(_ + _)
    val scored = coded.join(probes, Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"),
        (col("qn") + adcPart).as("adist_q"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist_q").asc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("adist_q"), col("rank"))
  }

  /** Residual IVF-PQ with an exact refine re-rank — the production
    * composition (Jégou et al. 2011 §III.C "IVFADC"; the FAISS
    * `IVF…,PQ…,Refine` index): where [[ivfPqTopK]]'s flat variant
    * quantizes RAW vectors (one global codebook, distortion the size
    * of the vectors themselves — the RECALL.md ~10% ceiling, recall
    * non-monotone in nProbe), this encodes each vector's RESIDUAL to
    * its IVF cell centroid. Residuals are small (the coarse quantizer
    * removed the cell-level component), so the same m·log2(ksub) bits
    * buy far less distortion; the ADC score against a query's
    * per-cell residual `‖(q − c) − recon(x − c)‖²` is exactly
    * `‖q − (c + recon_res(x))‖²` — the two-level reconstruction the
    * paper deploys.
    *
    * Stage 2 (`refineK`): the top-`refineK` ADC candidates per query
    * re-rank by EXACT cosine over the full quantized vectors (the
    * repo-wide retrieval metric) and the top-`k` of that exact order
    * is returned — so quantization distortion can only cost recall
    * at the preselection boundary, never mis-rank the final list.
    * With `refineK` ≥ the probed candidate count the output is
    * exactly the probed-cells cosine top-k, making recall provably
    * monotone in `nProbe` (candidate sets nest; exact scoring);
    * SimilaritySpec pins both that law and the
    * residual-dominates-flat frontier at equal probe budget.
    *
    * Tiers as in [[ivfPqTopK]]: `kmeansIters`/`pqIters` = 0 are the
    * closed-form stand-ins (centroids = `vec_id < nCentroids`,
    * residual codebooks = the `vec_id < ksub` rows' residuals, codes
    * 0..ksub−1 in vec_id order) so the whole two-level index is
    * SQL-oracle replicable; > 0 trains deterministically. Zero-norm
    * vectors assign to no cell and never surface (the [[ivfTopK]]
    * edge). Output `(query_id, neighbor_id, dot_q, rank)` — the
    * [[cosineTopK]] schema: exact integer dot, rank by exact cosine
    * descending, ties by neighbor id, self excluded.
    *
    * Scale shape: assignment, residual, and the m residual codes are
    * ONE narrow literal-fold projection over the corpus (centroids
    * and codebooks are driver-bounded literals — no join, no ×k
    * blowup); the candidate join keys on the cell id against a
    * broadcast |Q|·nProbe probe frame and the scored stream into the
    * ADC partial top-k (WindowGroupLimit) carries only
    * `(query_id, neighbor_id, adist_q)` — codes-sized, vectors never
    * re-enter past the scan until the refine join attaches them to
    * the |Q|·refineK surviving rows (query vectors re-attach from a
    * broadcast |Q|-row frame). The refine stage is the only
    * vector-sized exchange and it is preselection-bounded.
    */
  def ivfPqResidualTopK(
      embeddings: DataFrame,
      queryPred: Column,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      m: Int = 4,
      ksub: Int = 16,
      k: Int = 5,
      refineK: Int = 25,
      kmeansIters: Int = 0,
      pqIters: Int = 0): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    require(refineK >= k, s"refineK must be >= k, got refineK=$refineK k=$k")
    val corpus = withQuant(embeddings)
    val nz = corpus.filter(col("nq") > 0)
    val cents =
      if (kmeansIters > 0) kmeansCentroidsQ(corpus, nCentroids, kmeansIters)
      else corpus.filter(col("vec_id") < nCentroids && col("nq") > 0)
        .select(col("vec_id").as("cid"), col("q").as("cq"), col("nq").as("cnq"))
    val centsArr = cents.select(col("cid"), col("cq"), col("cnq"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
      .sortBy(_._1).toSeq
    def emptyOut = corpus.limit(0).select(
      col("vec_id").as("query_id"), col("vec_id").as("neighbor_id"),
      col("nq").as("dot_q"), col("nq").as("rank"))
    if (centsArr.isEmpty) return emptyOut
    val centLit = typedLit(centsArr)
    def ownCent(cid: Column): Column =
      element_at(filter(centLit, c => c.getField("_1") === cid), 1)
    // one narrow pass: cell id + residual to the own-cell centroid
    // (the prototypicality literal-refold device — no join)
    val assigned = nz
      .withColumn("cid", bestCellExpr(centsArr))
      .withColumn("r",
        zip_with(col("q"), ownCent(col("cid")).getField("_2"), (x, y) => x - y))
    // RESIDUAL codebooks: the pqCodebooksQ machinery over (vec_id, r).
    // Trained tiers iterate m×pqIters Lloyd passes over this frame —
    // materialize it once so each pass reads 8-byte-array rows instead
    // of re-evaluating the centroid-literal assignment fold per pass
    // (measured ~20x on the RECALL.md sweep); consumers are grouped
    // aggregates only, so the lost size stats demote no broadcast.
    val resFrame0 = assigned.select(col("vec_id"), col("r").as("q"))
    val resFrame = if (pqIters > 0) Checkpoints.cut(resFrame0, None) else resFrame0
    val cbs = pqCodebooksQ(resFrame, m, ksub, pqIters)
    if (cbs.exists(_.isEmpty)) return emptyOut
    val coded = assigned.select(
      col("vec_id") +: col("cid") +:
        (0 until m).map { j =>
          val sub = expr(s"slice(r, $j * (size(r) div $m) + 1, size(r) div $m)")
          bestCodeExpr(cbs(j), sub).as(s"c$j")
        }: _*)
    // probes carry the query's PER-CELL residual (+ its norm) — the
    // per-cell comparable ADC operand; query vectors re-attach only
    // at the refine stage from the |Q|-row frame below
    val probes = {
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("ccos").desc, col("cid").asc)
      nz.filter(queryPred).join(broadcast(cents))
        .withColumn("ccos",
          dotQ(col("q"), col("cq")).cast("double") /
            sqrt(col("nq").cast("double") * col("cnq").cast("double")))
        .withColumn("crn", row_number().over(w))
        .filter(col("crn") <= nProbe)
        .withColumn("qres", zip_with(col("q"), col("cq"), (x, y) => x - y))
        .select(col("vec_id").as("query_id"), col("cid"),
          col("qres"), normQ(col("qres")).as("qrn"))
    }
    val adcPart = (0 until m).map { j =>
      val entry = element_at(typedLit(cbs(j)), (col(s"c$j") + 1).cast("int"))
      val qSub = expr(s"slice(qres, $j * (size(qres) div $m) + 1, size(qres) div $m)")
      entry.getField("_3") - lit(2L) * dotQ(qSub, entry.getField("_2"))
    }.reduce(_ + _)
    val scored = coded.join(probes, Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"),
        (col("qrn") + adcPart).as("adist_q"))
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adist_q").asc, col("neighbor_id").asc)
    val pre = scored
      .withColumn("arn", row_number().over(wAdc))
      .filter(col("arn") <= refineK)
      .select(col("query_id"), col("neighbor_id"))
    // refine: exact cosine over the full quantized vectors, top-k of
    // the exact order — the |Q|-row query frame broadcasts
    val queries = nz.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("q").as("qq"), col("nq").as("qn"))
    val reranked = pre
      .join(broadcast(queries), Seq("query_id"))
      .join(nz.select(col("vec_id").as("neighbor_id"), col("q").as("q_n"),
        col("nq").as("n_n")), Seq("neighbor_id"))
      .select(
        col("query_id"), col("neighbor_id"),
        dotQ(col("qq"), col("q_n")).as("dot_q"),
        (col("qn").cast("double") * col("n_n").cast("double")).as("nn"))
      .withColumn("cos", col("dot_q").cast("double") / sqrt(col("nn")))
    val wf = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    reranked
      .withColumn("rank", row_number().over(wf).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("dot_q"), col("rank"))
  }

  /** Banded-LSH candidate pairs over a quantized corpus — the shared
    * candidate generator behind [[cosineNearDupPairs]] (undirected,
    * `id_a < id_b`) and [[knnGraph]] (directed, `id_a ≠ id_b`: every
    * vector needs its own neighbor list, so both orientations are
    * kept). Returns raw `(id_a, id_b)` WITHOUT dedup — callers
    * `.distinct()` after any union they apply. `maxBucketSize` is the
    * occupancy guard documented at [[cosineNearDupPairs]].
    *
    * The band table is materialized before the self-join — the two
    * join sides are separate subtrees to Catalyst, so an
    * unmaterialized plan quantizes and bands the corpus twice (the
    * [[graft.operators.Dedup.bandTableOf]] rationale; the frame is
    * 24-byte rows × bands per vector, never vectors). In-memory runs
    * use `.cache()` (keeps size stats, and unpersisting is
    * recompute-safe) registered in the one-slot [[bandSlot]] so
    * repeated operator calls hold at most ONE band table (r15, after
    * the r14 localCheckpoint form leaked one block set per call;
    * consume each result before constructing the next, see
    * [[CacheSlot]]); `checkpointDir` runs keep the durable
    * reliable-checkpoint form (no executor blocks to leak). The
    * occupancy probe's blocking aggregate doubles as the cache
    * materializer — and then
    * probed by [[graft.operators.Dedup.occupancyProbe]]: one
    * key-bounded aggregate job that warns when any bucket exceeds the
    * active cap (capped run: the sub-split is ACTIVE, in-bucket recall
    * reduced) or [[DefaultBandCap]] (uncapped opt-out: the self-join
    * is going quadratic) — the guardrail the r13 sf10 smoke showed
    * missing when `knnGraph` silently saturated at 200k vectors.
    */
  private[graft] def bandedCandidates(
      corpus: DataFrame,
      bands: Int,
      rowsPerBand: Int,
      maxBucketSize: Option[Int],
      directed: Boolean,
      op: String = "bandedCandidates",
      checkpointDir: Option[String] = None): DataFrame = {
    val bandPlan = bandRows(corpus, bands, rowsPerBand)
    val withB = checkpointDir match {
      case Some(_) => Checkpoints.cut(bandPlan, checkpointDir)
      case None => bandSlot.claim(bandPlan)
    }
    Dedup.occupancyProbe(
      withB, Seq("band", "bucket"), maxBucketSize.getOrElse(DefaultBandCap),
      op, capped = maxBucketSize.isDefined,
      remedy = maxBucketSize.fold(
        "Pass maxBucketSize (the operator default caps at " +
          s"Similarity.DefaultBandCap = $DefaultBandCap) or raise rowsPerBand " +
          "(more, smaller buckets) and compensate recall with more bands.")(_ =>
        "Raise rowsPerBand (finer buckets) with more bands to hold recall, " +
          "or accept the reduced in-bucket recall of the sub-split."))
    // occupancy cap: bucket sizes join back on (band, bucket) — an
    // aggregate of withB itself, key-bounded by bands·2^rowsPerBand,
    // so it shuffles 24-byte keyed rows, never vectors
    val (keyed, joinKeys) = maxBucketSize match {
      case None => (withB, Seq("band", "bucket"))
      case Some(cap) =>
        require(cap >= 1, s"maxBucketSize must be >= 1, got $cap")
        val P = graft.functions.Hashing.P
        val sizes0 = withB.groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("bkt_n"))
        // the sizes frame is key-bounded by bands·2^rowsPerBand; at the
        // small rowsPerBand this guard exists for (hot-bucket regime)
        // that's a few-KB frame Catalyst would mis-estimate into a
        // sort-merge join — hint it broadcast, same as semanticDedup's
        // cell sizes. Past 2^16 buckets/band the bound stops being
        // broadcast-safe, so the decision returns to the optimizer.
        val sizes = if (rowsPerBand <= 16) broadcast(sizes0) else sizes0
        val sub = withB.join(sizes, Seq("band", "bucket"))
          .withColumn("sub",
            ((col("vec_id") % P) * 1103515245L + 12345L) % P %
              ceil(col("bkt_n").cast("double") / cap).cast("long"))
          .drop("bkt_n")
        (sub, Seq("band", "bucket", "sub"))
    }
    val pairPred =
      if (directed) col("id_a") =!= col("id_b") else col("id_a") < col("id_b")
    keyed
      .select(col("vec_id").as("id_a") +: joinKeys.map(col): _*)
      .join(keyed.select(col("vec_id").as("id_b") +: joinKeys.map(col): _*),
        joinKeys)
      .filter(pairPred)
      .select(col("id_a"), col("id_b"))
  }

  /** kNN-graph self-join: EVERY vector's `k` nearest neighbors by
    * cosine — the batch primitive behind graph-ANN index construction
    * (NN-Descent seeding, HNSW base layers), kNN-graph clustering, and
    * local-density estimates over an embedding corpus. Output
    * `(vec_id, neighbor_id, dot_q, rank)`, `rank` 1..k per source,
    * ties broken by neighbor id — all exact integers except the
    * ranking cosine (the repo-wide double-divide-for-ranking-only
    * contract).
    *
    * `blocked = true` (default, the scale path): banded-LSH candidates
    * via [[bandedCandidates]] in DIRECTED form, per-vector top-k of
    * the survivors. Neighbor lists are exact within the candidate set;
    * recall of the true top-k is the banded collision probability —
    * the r/b sizing rule and `maxBucketSize` occupancy guard from
    * [[cosineNearDupPairs]] apply unchanged. A vector whose buckets
    * hold fewer than `k` others emits fewer than `k` rows (candidates
    * only, never padding).
    *
    * `blocked = false` is the exact quadratic baseline — corpus ×
    * corpus — the recall ground truth for specs and small corpora, on
    * the same footing as the near-dup brute branch (not reachable from
    * any shipped query).
    *
    * `maxBucketSize` DEFAULTS TO [[DefaultBandCap]] (r14, after the
    * sf10 smoke proved the uncapped default saturates): a 100 TB
    * graph build gets the bounded form unless it explicitly opts out
    * with `None` — the uncapped opt-out still runs, but the occupancy
    * probe warns on every hot bucket it is about to go quadratic on.
    *
    * Zero-norm vectors have undefined cosine; they are excluded as
    * both sources and neighbors (pinned, same rule as
    * [[semanticDedup]]).
    *
    * Scale shape: the band join shuffles `(band, bucket, id)` rows;
    * vectors re-attach to the distinct candidate edges only. The
    * `row_number ≤ k` filter compiles to WindowGroupLimit, so each
    * shuffle partition keeps only its local top-k per source before
    * the window sort.
    *
    * Band-cache ordering (in-memory runs): the blocked form registers
    * its band table in the one-slot [[bandSlot]] — CONSUME this
    * result before constructing the next banded operator, or the next
    * construction evicts this one's cache and its band table rebuilds
    * from lineage (correct, but double-banded).
    */
  def knnGraph(
      embeddings: DataFrame,
      k: Int,
      blocked: Boolean = true,
      bands: Int = 4,
      rowsPerBand: Int = 4,
      maxBucketSize: Option[Int] = Some(DefaultBandCap)): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val corpus = withQuant(embeddings).filter(col("nq") > 0)
    val paired =
      if (blocked)
        bandedCandidates(corpus, bands, rowsPerBand, maxBucketSize,
          directed = true, op = "knnGraph")
          .distinct()
      else
        corpus.select(col("vec_id").as("id_a"))
          .crossJoin(corpus.select(col("vec_id").as("id_b")))
          .filter(col("id_a") =!= col("id_b"))
    rankCandidates(paired, corpus, k)
      .select(
        col("id_a").as("vec_id"), col("id_b").as("neighbor_id"),
        col("dot_q"), col("rank"))
  }

  /** Exact cosine re-rank of a directed candidate edge frame
    * `(id_a, id_b)` against a quantized corpus: attach both vectors,
    * score, keep each source's top-`k`. The shared tail of [[knnGraph]]
    * and [[nnDescentRefine]] — vectors join onto the id-only edge
    * frame (never ride the candidate shuffles), and `row_number ≤ k`
    * compiles to the partial+final WindowGroupLimit.
    */
  private def rankCandidates(cands: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val aSide = corpus.select(col("vec_id").as("id_a"), col("q").as("q_a"), col("nq").as("n_a"))
    val bSide = corpus.select(col("vec_id").as("id_b"), col("q").as("q_b"), col("nq").as("n_b"))
    val scored = cands
      .join(aSide, Seq("id_a"))
      .join(bSide, Seq("id_b"))
      .select(
        col("id_a"), col("id_b"),
        dotQ(col("q_a"), col("q_b")).as("dot_q"),
        (col("n_a").cast("double") * col("n_b").cast("double")).as("nn"))
      .withColumn("cos", col("dot_q").cast("double") / sqrt(col("nn")))
    val w = Window.partitionBy(col("id_a"))
      .orderBy(col("cos").desc, col("id_b").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** NN-Descent refinement of the kNN graph (Dong et al. 2011, WWW —
    * "a neighbor of a neighbor is likely a neighbor"): seed with the
    * banded-LSH [[knnGraph]], then for `rounds` iterations expand each
    * vector's candidate set to its current neighbors (both
    * orientations — reverse neighbors are candidates, per the paper's
    * undirected join) plus all neighbors-of-neighbors through the
    * undirected graph, re-rank exactly, and keep the top-`k`. This is
    * the batch graph-ANN construction loop: banding gives cheap seeds,
    * descent rounds recover the recall banding loses, each round
    * costing O(n·k²) candidate edges instead of O(n²).
    *
    * Monotonicity law (spec-gated): a round's candidate set contains
    * the previous neighbor list, and re-ranking is exact — so at every
    * rank position the cosine is non-decreasing round over round; a
    * refinement can only improve a neighbor list, never degrade it.
    *
    * Output/determinism/zero-norm contracts are [[knnGraph]]'s:
    * `(vec_id, neighbor_id, dot_q, rank)`, ties by neighbor id,
    * zero-norm vectors excluded both ways.
    *
    * Scale shape: the per-round frames are 16-byte id pairs end to end
    * — union + distinct + a self-join on the shared middle vertex
    * (fanout ≤ (2k)² per vertex, k small by construction) — and
    * vectors attach once per round in the exact re-rank. Each round's
    * input graph is cut ([[Checkpoints.cut]]; `checkpointDir` = None →
    * localCheckpoint, Some(dir) → reliable, the [[GraphOps.kHop]]
    * knob), because the undirected frame feeds three consumers — an
    * uncut plan would recompute the full seed ranking per consumer and
    * double the lineage every round.
    *
    * `sampleK` enables the paper's §2.3 ρ-sampling: the hop join reads
    * a deterministically sampled (LCG-hash-ordered, rerun-stable)
    * neighbor list capped at `sampleK` per endpoint, bounding every
    * middle vertex's hop contribution to sampleK² — the corpus-scale
    * form when k is large. Direct neighbors always remain candidates,
    * so the monotonicity law holds under sampling; the trade is
    * slower recall growth per round, exactly the paper's ρ trade.
    */
  def nnDescentRefine(
      embeddings: DataFrame,
      k: Int,
      rounds: Int = 1,
      blocked: Boolean = true,
      bands: Int = 4,
      rowsPerBand: Int = 4,
      maxBucketSize: Option[Int] = Some(DefaultBandCap),
      sampleK: Option[Int] = None,
      checkpointDir: Option[String] = None): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(sampleK.forall(_ >= 1), s"sampleK must be >= 1, got $sampleK")
    val corpus = withQuant(embeddings).filter(col("nq") > 0)
    var ranked = knnGraph(embeddings, k, blocked, bands, rowsPerBand, maxBucketSize)
      .select(col("vec_id").as("id_a"), col("neighbor_id").as("id_b"),
        col("dot_q"), col("rank"))
    // deterministic per-endpoint sample order (the LCG convention the
    // capped-SimHash oracle already pins) — rerun-stable and
    // SQL-replicable, unlike rand()
    def lcg(c: Column): Column =
      ((c % lit(1000000007L)) * lit(1103515245L) + lit(12345L)) % lit(1000000007L)
    for (_ <- 1 to rounds) {
      val g = Checkpoints.cut(ranked.select(col("id_a"), col("id_b")), checkpointDir)
      val und = g
        .unionByName(g.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
        .distinct()
      // ρ-sampling (Dong et al. §2.3): the hop join reads a sampled
      // neighbor list on BOTH endpoints, so every middle vertex
      // contributes ≤ sampleK² hop candidates instead of (2k)² —
      // direct neighbors always stay candidates, so a sampled round
      // still never degrades the list (the monotonicity law holds)
      val hopSrc = sampleK match {
        case Some(sk) =>
          val wa = Window.partitionBy(col("id_a")).orderBy(lcg(col("id_b")), col("id_b"))
          val wb = Window.partitionBy(col("id_b")).orderBy(lcg(col("id_a")), col("id_a"))
          und
            .withColumn("sa", row_number().over(wa)).filter(col("sa") <= sk)
            .withColumn("sb", row_number().over(wb)).filter(col("sb") <= sk)
            .drop("sa", "sb")
        case None => und
      }
      val hop = hopSrc.select(col("id_a"), col("id_b").as("m"))
        .join(hopSrc.select(col("id_a").as("m"), col("id_b")), Seq("m"))
        .filter(col("id_a") =!= col("id_b"))
        .select(col("id_a"), col("id_b"))
      val cands = und.unionByName(hop).distinct()
      ranked = rankCandidates(cands, corpus, k)
    }
    ranked.select(
      col("id_a").as("vec_id"), col("id_b").as("neighbor_id"),
      col("dot_q"), col("rank"))
  }

  /** Graph-navigable ANN search: batch beam search over a prebuilt
    * kNN graph (Malkov & Yashunin 2018's layer-0 search loop —
    * HNSW-class greedy expansion, run as set-oriented rounds), seeded
    * from each query's LSH bucket. This is the QUERY path the graph
    * build ([[knnGraph]] / [[nnDescentRefine]]) exists for: retrieval
    * routes through graph edges instead of probing cells, so recall
    * grows with `rounds` at graph-degree cost — and a neighbor
    * OUTSIDE the query's bucket is reachable the moment any bucket
    * candidate links toward it (the case every cell router misses by
    * construction).
    *
    *  - seeds: same-bucket corpus vectors under `planes` sign
    *    projections ([[lshBucketedNeighbors]]'s bucket), exact-ranked,
    *    top-`beam` kept. A query whose bucket is otherwise empty
    *    emits nothing (pinned — the router's miss case, visible
    *    rather than padded).
    *  - round: the beam's graph out-neighbors join the beam, the
    *    union is exact-reranked, top-`beam` survives. Candidates only
    *    ever grow a round's ranked prefix, so per (query, rank) the
    *    cosine is non-decreasing in `rounds` (the [[nnDescentRefine]]
    *    monotonicity law — spec-gated).
    *  - `rounds` is FIXED, not convergence-tested: deterministic cost,
    *    engine-exact (the oracle unrolls the rounds), and the paper's
    *    own stop rule is a greedy heuristic this batch form replaces.
    *
    * Output: `(query_id, neighbor_id, dot_q, rank)`, rank ≤ `k` over
    * the final beam — the [[cosineTopK]] family contract (ties by
    * neighbor id, self excluded, zero-norm vectors excluded).
    *
    * Scale shape: the graph is id-pair rows; each round moves
    * (query, cand) id pairs through one equi-join on the beam's cand
    * side + one distinct + one broadcast-query exact rerank whose
    * window is per-query (WindowGroupLimit, ≤ beam·(graphK+1) rows
    * per query) — vectors attach to candidate ids only, the corpus
    * never reshuffles. Per-round frames are lineage-cut (two
    * consumers: expansion + union). The candidate budget per query is
    * bucket-occupancy + rounds·beam·graphK, the number RECALL.md
    * reports against the cell routers at matched budgets.
    */
  def graphSearchTopK(
      embeddings: DataFrame,
      queryPred: Column,
      k: Int,
      graph: DataFrame,
      beam: Int = 8,
      rounds: Int = 2,
      planes: Int = 8,
      seedProbes: Int = 0,
      checkpointDir: Option[String] = None): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val corpus = withQuant(embeddings).filter(col("nq") > 0)
      .withColumn("bucket", lshBucket(col("q"), planes))
    val queries = corpus.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("q").as("qq"),
        col("nq").as("qn"), col("bucket"))
    graphSearchCore(corpus, queries,
      probedSeedBuckets(queries, planes, seedProbes), graph, k, beam,
      rounds, checkpointDir)
  }

  /** The seed-bucket frame `(query_id, bucket)` for the beam search:
    * each query's own bucket plus its `probes` lowest-|projection|
    * single-bit flips — multi-probe seeding (Lv et al. 2007, the
    * [[lshMultiProbeNeighbors]] flip rule), the axis that widens the
    * seed set WITHOUT rebuilding the index or growing the graph.
    * Buckets are distinct per query (XOR of distinct bits) and each
    * corpus vector lives in one bucket, so probing never duplicates a
    * (query, cand) seed.
    */
  private def probedSeedBuckets(queries: DataFrame, planes: Int,
      probes: Int): DataFrame = {
    require(probes >= 0 && probes <= planes,
      s"seedProbes must be in [0, planes], got $probes")
    if (probes == 0) queries.select(col("query_id"), col("bucket"))
    else {
      val flips = array((0 until planes).map { j =>
        val sv = aggregate(
          zip_with(col("qq"), sequence(lit(0), size(col("qq")) - 1),
            (x, i) => x * planeWeight(i, lit(j.toLong))),
          lit(0L), (acc, v) => acc + v)
        struct(abs(sv).as("a"), lit(j.toLong).as("j"),
          col("bucket").bitwiseXOR(lit(1L << j)).as("fb"))
      }: _*)
      queries
        .select(col("query_id"),
          explode(concat(
            array(col("bucket")),
            transform(slice(array_sort(flips), 1, probes),
              s => s.getField("fb")))).as("bucket"))
    }
  }

  /** Frozen graph-ANN index: the layer-0 kNN graph plus the
    * LSH-bucketed quantized corpus its seeds probe — the beam-search
    * sibling of [[IvfIndex]] under the same `.materialized`
    * train-once/probe-forever contract. `planes` rides along so the
    * probe side buckets its queries with the index's own seed
    * geometry.
    */
  case class GraphIndex(graph: DataFrame, corpus: DataFrame, planes: Int) {
    /** Persist + reload both frames — build once, probe forever. */
    def materialized(dir: String): GraphIndex =
      GraphIndex(frozenFrame(graph, dir, "graph"),
        frozenFrame(corpus, dir, "corpus"), planes)
  }

  /** Build the frozen graph-ANN index: banded-LSH [[knnGraph]] (the
    * capped, linear layer-0 build) + the bucketed quantized corpus.
    */
  def graphBuild(embeddings: DataFrame, graphK: Int = 5, planes: Int = 8,
      bands: Int = 4, rowsPerBand: Int = 4,
      maxBucketSize: Option[Int] = Some(DefaultBandCap)): GraphIndex = {
    val corpus = withQuant(embeddings).filter(col("nq") > 0)
      .withColumn("bucket", lshBucket(col("q"), planes))
    val g = knnGraph(embeddings, graphK, blocked = true, bands, rowsPerBand,
      maxBucketSize)
      .select(col("vec_id"), col("neighbor_id"))
    GraphIndex(g, corpus, planes)
  }

  /** Probe a (frozen or inline) graph-ANN index with an external
    * query set `(vec_id, embedding)`: LSH-bucket seeds → `rounds` of
    * expand-and-rerank — [[graphSearchTopK]]'s query path divorced
    * from the graph build. ~flat per-query cost over a prebuilt
    * graph (RECALL.md).
    */
  def graphProbe(index: GraphIndex, queryVecs: DataFrame, k: Int,
      beam: Int = 8, rounds: Int = 2, seedProbes: Int = 0,
      checkpointDir: Option[String] = None): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val queries = withQuant(queryVecs).filter(col("nq") > 0)
      .withColumn("bucket", lshBucket(col("q"), index.planes))
      .select(col("vec_id").as("query_id"), col("q").as("qq"),
        col("nq").as("qn"), col("bucket"))
    graphSearchCore(index.corpus, queries,
      probedSeedBuckets(queries, index.planes, seedProbes), index.graph,
      k, beam, rounds, checkpointDir)
  }

  private def graphSearchCore(
      corpus: DataFrame,
      queries: DataFrame,
      seedBuckets: DataFrame,
      graph: DataFrame,
      k: Int,
      beam: Int,
      rounds: Int,
      checkpointDir: Option[String]): DataFrame = {
    require(k >= 1 && beam >= k, s"need beam >= k >= 1, got k=$k beam=$beam")
    val g = Checkpoints.cut(
      graph.select(col("vec_id").as("gsrc"), col("neighbor_id").as("gdst")),
      checkpointDir)
    val cand = corpus.select(col("vec_id").as("cand"), col("q"), col("nq"))
    def rerank(frontier: DataFrame, keep: Int): DataFrame = {
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("cand").asc)
      frontier
        .join(cand, Seq("cand"))
        .join(broadcast(queries.select(col("query_id"), col("qq"), col("qn"))),
          Seq("query_id"))
        .select(col("query_id"), col("cand"),
          dotQ(col("qq"), col("q")).as("dot_q"),
          (col("qn").cast("double") * col("nq").cast("double")).as("nn"))
        .withColumn("cos", col("dot_q").cast("double") / sqrt(col("nn")))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= keep)
    }
    val seeds = corpus
      .join(broadcast(seedBuckets.select(col("query_id"), col("bucket"))),
        Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand"))
    var beamDf = Checkpoints.cut(
      rerank(seeds, beam).select(col("query_id"), col("cand")), checkpointDir)
    for (_ <- 1 to rounds) {
      val expanded = beamDf
        .join(g, beamDf("cand") === g("gsrc"))
        .filter(col("gdst") =!= col("query_id"))
        .select(col("query_id"), col("gdst").as("cand"))
        .unionByName(beamDf)
        .distinct()
      beamDf = Checkpoints.cut(
        rerank(expanded, beam).select(col("query_id"), col("cand")),
        checkpointDir)
    }
    rerank(beamDf, k)
      .select(col("query_id"), col("cand").as("neighbor_id"),
        col("dot_q"), col("rank"))
  }

  /** Embedding near-duplicate pairs: all pairs with cosine ≥ τ.
    * `cosE6` threshold is in 1e-6 units (e.g. 950000 = 0.95).
    * Output `(id_a, id_b, dot_q)`, `id_a < id_b`.
    *
    * `blocked = true` is the scale path: banded-LSH candidate
    * generation (`bands` × `rowsPerBand` sign-projection planes,
    * OR-construction over bands), distinct candidate pairs, then exact
    * verification — emitted pairs are exact, recall is the banded
    * collision probability (identical vectors always collide). The
    * band join shuffles only `(band, bucket, id)`; vectors re-attach
    * to the (already-distinct, much smaller) candidate pairs.
    *
    * SIZE `rowsPerBand` TO THE CORPUS: each band has `2^rowsPerBand`
    * buckets, expected occupancy `n / 2^rowsPerBand`, and candidate
    * pairs grow with occupancy SQUARED — the same saturation mechanism
    * the sf1 smoke caught in 32-bit SimHash (PERF_r07.md). The default
    * `rowsPerBand = 4` (16 buckets) fits the ~10^3-vector test corpus;
    * at 10^9 vectors use `rowsPerBand ≈ log2(n) − 10` (≈ 20, giving
    * ~10^3-vector buckets). Unlike SimHash's pigeonhole bands, widening
    * here COSTS RECALL (collision prob per band is
    * `(1 − θ/π)^rowsPerBand`), so compensate with more `bands` — the
    * standard LSH r/b trade, which is why both stay caller-visible
    * knobs rather than auto-derived.
    *
    * `maxBucketSize` is the OCCUPANCY GUARD for when the r/b sizing
    * rule above is wrong anyway (near-dup-heavy corpora concentrate
    * into hot buckets regardless of the average): any (band, bucket)
    * larger than the cap is sub-split into `ceil(bucket_n / cap)`
    * sub-buckets by a portable `vec_id` hash, bounding every candidate
    * block to ~cap² in expectation — the same device as
    * [[semanticDedup]]'s `maxCellSize`. Because an id-hash split can
    * separate near-identical vectors, a LINEAR exact-duplicate floor
    * (hash-keyed group on the full quantized vector, star pairs to the
    * group minimum) runs alongside, so cos=1 duplicates — the pairs a
    * dedup must never miss — always connect to their representative
    * regardless of the sub-split; sub-cap near-pairs across
    * sub-buckets are the documented recall trade, identical in kind
    * to LSH banding itself. Star candidates feed the same exact
    * verification join, so a (≈2⁻¹²⁸, content-addressed-storage
    * assumption) double-hash collision can only propose a candidate,
    * never emit an unverified pair. The cap DEFAULTS ON
    * ([[DefaultBandCap]], r14): pass `None` to opt out — the
    * occupancy probe then warns instead of splitting.
    *
    * `blocked = false` is brute force (n² — correctness baseline for
    * specs / small corpora only): a real cross join, NOT a
    * constant-key equi-join, which would hash every row into one
    * partition; crossJoin keeps the left side partitioned.
    *
    * Band-cache ordering (in-memory blocked runs): the band table
    * lives in the one-slot [[bandSlot]] — consume this result
    * before constructing the next banded operator (see [[knnGraph]]).
    */
  def cosineNearDupPairs(
      embeddings: DataFrame,
      cosE6: Long,
      blocked: Boolean = false,
      bands: Int = 4,
      rowsPerBand: Int = 4,
      maxBucketSize: Option[Int] = Some(DefaultBandCap)): DataFrame = {
    val corpus = withQuant(embeddings)
    val thresh = (dq: Column, nn: Column) =>
      dq.cast("double") >= lit(cosE6.toDouble / 1e6) * sqrt(nn)
    if (blocked) {
      val bandedCands =
        bandedCandidates(corpus, bands, rowsPerBand, maxBucketSize,
          directed = false, op = "cosineNearDupPairs")
      // exact-dup star floor under the cap: group on two independent
      // 64-bit hashes of the quantized vector (24-byte shuffle keys,
      // vectors never move — the exactDedup device) and propose
      // (group-min, member) pairs; verification downstream makes hash
      // collisions harmless
      val cands = (maxBucketSize match {
        case None => bandedCands
        case Some(_) =>
          val hkeyed = corpus.select(col("vec_id"),
            xxhash64(col("q")).as("h"), xxhash64(lit(42L), col("q")).as("h2"))
          val reps = hkeyed.groupBy(col("h"), col("h2"))
            .agg(min(col("vec_id")).as("rep_id"), count(lit(1)).as("grp_n"))
            .filter(col("grp_n") > 1)
            .select(col("h"), col("h2"), col("rep_id"))
          val stars = hkeyed.join(reps, Seq("h", "h2"))
            .filter(col("vec_id") > col("rep_id"))
            .select(col("rep_id").as("id_a"), col("vec_id").as("id_b"))
          bandedCands.unionByName(stars)
      }).distinct()
      cands
        .join(corpus.select(col("vec_id").as("id_a"), col("q").as("q_a"), col("nq").as("n_a")),
          Seq("id_a"))
        .join(corpus.select(col("vec_id").as("id_b"), col("q").as("q_b"), col("nq").as("n_b")),
          Seq("id_b"))
        .select(
          col("id_a"), col("id_b"),
          dotQ(col("q_a"), col("q_b")).as("dot_q"),
          (col("n_a").cast("double") * col("n_b").cast("double")).as("nn"))
        .filter(thresh(col("dot_q"), col("nn")))
        .select(col("id_a"), col("id_b"), col("dot_q"))
    } else {
      val a = corpus.select(col("vec_id").as("id_a"), col("q").as("q_a"), col("nq").as("n_a"))
      val b = corpus.select(col("vec_id").as("id_b"), col("q").as("q_b"), col("nq").as("n_b"))
      a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .select(
          col("id_a"), col("id_b"),
          dotQ(col("q_a"), col("q_b")).as("dot_q"),
          (col("n_a").cast("double") * col("n_b").cast("double")).as("nn"))
        .filter(thresh(col("dot_q"), col("nn")))
        .select(col("id_a"), col("id_b"), col("dot_q"))
    }
  }

  /** Persistable banded-LSH index over an embedding corpus —
    * `(vec_id, band, bucket)`, the [[Dedup.bandTableOf]] twin for
    * embeddings: an ingest pipeline writes it once per corpus and
    * hands it to [[incrementalNearDupPairs]] on every subsequent
    * batch, so the corpus is never re-banded per ingest. Materialized
    * ([[Checkpoints.cut]]) because every consumer joins it at least
    * twice (index side + candidate side); the frame is 24-byte rows ×
    * `bands` per vector — vectors never enter it.
    */
  def bandTable(
      embeddings: DataFrame,
      bands: Int = 4,
      rowsPerBand: Int = 4,
      checkpointDir: Option[String] = None): DataFrame =
    Checkpoints.cut(bandRows(withQuant(embeddings), bands, rowsPerBand), checkpointDir)

  /** `(vec_id, band, bucket)` band rows of a quantized frame
    * (`vec_id`, `q`) — the one banding projection behind
    * [[bandTable]], [[bandedCandidates]] and both incremental forms,
    * which band their already-cut quantized batch rather than
    * quantizing it again.
    */
  private[graft] def bandRows(quantized: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    quantized.select(
        col("vec_id"),
        explode(lshBandBuckets(col("q"), bands, rowsPerBand)).as("bb"))
      .select(col("vec_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))

  /** Incremental embedding near-dup — the banded-LSH cosine twin of
    * [[Dedup.incrementalNearDupPairs]]: pairs `(id_a, id_b, dot_q)`
    * with `cos ≥ cosE6/1e6` where at least one side belongs to the
    * NEW batch (new↔corpus and new↔new; settled corpus↔corpus pairs
    * are previous ingests' output and are not recomputed).
    * `corpusBands` is the persisted [[bandTable]] index. Equivalent to
    * the full [[cosineNearDupPairs]] banded run restricted to
    * new-touching pairs (band buckets depend only on the vector, so
    * restricting the candidate join restricts nothing else —
    * SimilaritySpec law + the `sim_incr_near_dup` oracle row).
    *
    * The incremental contract: per batch, only (a) the new vectors
    * quantize and band, and (b) the corpus vectors that actually
    * collide on a band attach for exact verification (semi-join on
    * the batch-sized candidate id set, broadcast) — corpus embeddings
    * are never scanned beyond those matches, and the index grows by
    * the new batch's band rows. At 100 TB this is the difference
    * between re-banding the corpus per ingest and touching
    * ~batch-sized state.
    */
  def incrementalNearDupPairs(
      newEmbeddings: DataFrame,
      corpus: DataFrame,
      corpusBands: DataFrame,
      cosE6: Long,
      bands: Int = 4,
      rowsPerBand: Int = 4,
      checkpointDir: Option[String] = None): DataFrame = {
    // materialized: the quantized batch feeds banding AND verification
    val newQ = Checkpoints.cut(withQuant(newEmbeddings), checkpointDir)
    val newBands = Checkpoints.cut(bandRows(newQ, bands, rowsPerBand), checkpointDir)
    incrementalPairsCoreEmb(newQ, newBands, corpusBands, cosE6,
      matchedIds => withQuant(
        corpus.join(broadcast(matchedIds), Seq("vec_id"), "left_semi")),
      checkpointDir)._1
  }

  /** Shared incremental-LSH core for embeddings: candidates from
    * (index ∪ new) × new band collisions, exact cosine verification
    * over the new quantized vectors plus whatever
    * `corpusQOf(matchedIds)` supplies for the colliding corpus ids
    * (re-quantized embeddings for the batch form, persisted quantized
    * state for the streaming form). The candidate/verify discipline
    * of [[cosineNearDupPairs]]'s blocked branch, restricted to
    * new-touching pairs.
    *
    * Each batch frame is computed once, as in
    * [[Dedup.incrementalPairsCore]]: the candidate pairs are cut and
    * the matched ids come off that cut in one pass; the verification
    * vectors (matched new ∪ matched corpus, one row per id) are cut
    * for their two readers. The index side of the band join is neither
    * deduplicated nor shuffled (duplicate index rows only repeat
    * candidates, which the candidate `distinct` absorbs), and the new
    * bands take the broadcast rule, so the join streams the index.
    *
    * Returns the pairs and the cuts made here; the caller releases the
    * cuts once the pairs are written.
    */
  private[graft] def incrementalPairsCoreEmb(
      newQ: DataFrame,
      newBands: DataFrame,
      corpusBands: DataFrame,
      cosE6: Long,
      corpusQOf: DataFrame => DataFrame,
      cutDir: Option[String]): (DataFrame, Seq[DataFrame]) = {
    val l = corpusBands.unionByName(newBands)
      .select(col("vec_id").as("id_a"), col("band"), col("bucket"))
    val r = Checkpoints.broadcastRule(newBands)(
      newBands.select(col("vec_id").as("id_b"), col("band"), col("bucket")))
    // normalize (min, max): new↔new collisions arrive in both orders,
    // new↔corpus in one — distinct collapses them either way
    val cands = Checkpoints.cut(
      l.join(r, Seq("band", "bucket"))
        .filter(col("id_a") =!= col("id_b"))
        .select(least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b"))
        .distinct(), cutDir)
    val matchedIds = cands
      .select(explode(array(col("id_a"), col("id_b"))).as("vec_id")).distinct()
    val vecs = Checkpoints.cut(
      newQ.join(broadcast(matchedIds), Seq("vec_id"), "left_semi")
        .unionByName(corpusQOf(matchedIds))
        .dropDuplicates("vec_id"), cutDir)
    val pairs = cands
      .join(vecs.select(col("vec_id").as("id_a"), col("q").as("q_a"), col("nq").as("n_a")),
        Seq("id_a"))
      .join(vecs.select(col("vec_id").as("id_b"), col("q").as("q_b"), col("nq").as("n_b")),
        Seq("id_b"))
      .select(
        col("id_a"), col("id_b"),
        dotQ(col("q_a"), col("q_b")).as("dot_q"),
        (col("n_a").cast("double") * col("n_b").cast("double")).as("nn"))
      .filter(col("dot_q").cast("double") >= lit(cosE6.toDouble / 1e6) * sqrt(col("nn")))
      .select(col("id_a"), col("id_b"), col("dot_q"))
    (pairs, Seq(cands, vecs))
  }

  /** SemDeDup-shaped semantic dedup: partition the corpus into k-means
    * cells, prune near-duplicate pairs WITHIN each cell, keep the
    * lowest-id member of every near-dup pair. The pinned rule: vector
    * `b` is dropped iff some `a < b` in the same cell has
    * `cos(a, b) ≥ cosE6/1e6`; survivors are emitted with their cell id.
    * Complementary to the banded-LSH composition (`sim_dedup_clusters`):
    * LSH blocks by random sign projections, SemDeDup blocks by learned
    * cluster structure, which concentrates semantically-close vectors
    * into the same block and is the published recipe for pretraining
    * corpora (Abbas et al. 2023, SemDeDup).
    *
    * `kmeansIters = 0` selects the closed-form `vec_id < nCells`
    * centroid stand-in so an external SQL oracle can replicate the
    * whole operator (same device as [[ivfTopK]]); the real path runs
    * [[kmeansCentroidsQ]], whose machinery is itself oracle-proven via
    * `sim_ivf_kmeans`.
    *
    * Zero-norm vectors have undefined cosine: they are excluded from
    * assignment and pairing (engines disagree on NaN ordering, so this
    * is pinned, not incidental) and survive unconditionally with cell
    * −1.
    *
    * Scale shape: assignment is the narrow literal-argmax projection
    * (no join); the pair join shuffles on the cell id and is quadratic
    * per cell — the SemDeDup trade. `nCells` is the knob: size it so
    * cells hold ~10³–10⁴ vectors (nCells ≈ n/10³ at 100 TB, exactly
    * how the paper runs it); the cell-id shuffle then has enough
    * distinct keys to spread. `maxCellSize` is the guard for when the
    * sizing guess is wrong anyway (near-duplicate-heavy corpora
    * concentrate into hot cells): any cell larger than the cap is
    * sub-split into `ceil(cell_n / cap)` sub-cells by a portable hash
    * of `vec_id`, bounding every pair block to ~cap² in expectation —
    * the `dfCap` / `maxFanout` device applied to SemDeDup. Because an
    * id-hash split can separate near-identical vectors, a LINEAR
    * exact-duplicate pass (group by the full quantized vector within
    * the cell) runs alongside, so cos=1 duplicates — the pairs a
    * dedup must never miss — are caught regardless of the sub-split;
    * sub-cap near-pairs across sub-cells are the documented recall
    * trade, identical in kind to LSH banding. The pinned capped rule:
    * `b` dropped iff (∃ a<b in the same cell with q_a = q_b) or
    * (∃ a<b in the same (cell, sub-cell) with cos(a,b) ≥ τ).
    * The assigned frame is materialized once (three consumers).
    */
  def semanticDedup(
      embeddings: DataFrame,
      nCells: Int,
      cosE6: Long,
      kmeansIters: Int = 4,
      maxCellSize: Option[Int] = None,
      checkpointDir: Option[String] = None): DataFrame = {
    val corpus = withQuant(embeddings)
    // nq > 0: a zero-norm centroid stand-in would score NaN against the
    // whole corpus (Spark orders NaN largest — degenerate capture cell)
    val cents =
      if (kmeansIters > 0) kmeansCentroidsQ(corpus, nCells, kmeansIters)
      else corpus.filter(col("vec_id") < nCells && col("nq") > 0)
        .select(col("vec_id").as("cid"), col("q").as("cq"), col("nq").as("cnq"))
    val centsArr = cents.select(col("cid"), col("cq"), col("cnq"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
      .sortBy(_._1).toSeq
    val assigned = Checkpoints.cut(
      corpus.filter(col("nq") > 0)
        .withColumn("cid", bestCellExpr(centsArr))
        .select(col("vec_id"), col("cid"), col("q"), col("nq")),
      checkpointDir)
    // sub-cell id: 0 everywhere when uncapped; otherwise a portable
    // vec_id hash mod ceil(cell_n/cap). The sizes frame is ≤ nCells
    // rows — broadcast, same bound as the centroid literal.
    val subbed = maxCellSize match {
      case None => assigned.withColumn("sub", lit(0L))
      case Some(cap) =>
        val P = graft.functions.Hashing.P
        val sizes = assigned.groupBy(col("cid")).agg(count(lit(1)).as("cell_n"))
        assigned.join(broadcast(sizes), Seq("cid"))
          .withColumn("sub",
            ((col("vec_id") % P) * 1103515245L + 12345L) % P %
              ceil(col("cell_n").cast("double") / cap).cast("long"))
          .drop("cell_n")
    }
    val a = subbed.select(col("cid"), col("sub"), col("vec_id").as("id_a"),
      col("q").as("q_a"), col("nq").as("n_a"))
    val b = subbed.select(col("cid"), col("sub"), col("vec_id").as("id_b"),
      col("q").as("q_b"), col("nq").as("n_b"))
    val droppedNear = a.join(b, Seq("cid", "sub"))
      .filter(col("id_a") < col("id_b"))
      .filter(dotQ(col("q_a"), col("q_b")).cast("double") >=
        lit(cosE6.toDouble / 1e6) *
          sqrt(col("n_a").cast("double") * col("n_b").cast("double")))
      .select(col("id_b").as("vec_id"))
    // linear exact-dup recovery under the cap: one grouped pass on
    // (cid, q) — no pair blowup, so safe even when every vector is
    // identical (the degenerate fixture the cap exists for)
    val dropped = (maxCellSize match {
      case None => droppedNear
      case Some(_) =>
        val keep = assigned.groupBy(col("cid"), col("q"))
          .agg(min(col("vec_id")).as("keep_id"))
        val droppedExact = assigned.join(keep, Seq("cid", "q"))
          .filter(col("vec_id") > col("keep_id"))
          .select(col("vec_id"))
        droppedNear.unionByName(droppedExact)
    }).distinct()
    assigned.select(col("vec_id"), col("cid"))
      .join(dropped, Seq("vec_id"), "left_anti")
      .unionByName(corpus.filter(col("nq") === 0)
        .select(col("vec_id"), lit(-1L).as("cid")))
  }

  /** Prototypicality ranking — the SSL-prototypes curation metric from
    * the same line of work as SemDeDup (Sorscher et al. 2022, "Beyond
    * neural scaling laws"): assign every vector to its nearest k-means
    * cell and rank members within the cell by cosine TO THEIR OWN
    * CENTROID. Low rank = most prototypical (cluster-typical,
    * redundant); high rank = atypical (informative, or noise). A
    * curation pipeline keeps a band of ranks — e.g. drop the most
    * prototypical p% on large corpora, drop the most atypical p% on
    * small/noisy ones — which is exactly what this output feeds.
    *
    * Output `(vec_id, cid, dot_q, rank_in_cell)`: `dot_q` is the exact
    * integer dot with the own-cell centroid; the rank orders by cosine
    * (sqrt is IEEE-correctly-rounded, so the double ordering is still
    * engine-exact), descending, ties by vec_id. Zero-norm vectors get
    * cell −1, dot 0, rank 0 (no defined prototype distance).
    *
    * Same machinery and scale shape as [[semanticDedup]]'s assignment:
    * narrow literal-argmax (no join, no ×k blowup), then one
    * window-group-limit-free rank per cell — the only shuffle is the
    * cell partition. `kmeansIters = 0` selects the closed-form
    * stand-in so the SQL oracle replicates the whole operator.
    */
  def prototypicality(
      embeddings: DataFrame,
      nCells: Int,
      kmeansIters: Int = 4): DataFrame = {
    val corpus = withQuant(embeddings)
    val cents =
      if (kmeansIters > 0) kmeansCentroidsQ(corpus, nCells, kmeansIters)
      else corpus.filter(col("vec_id") < nCells && col("nq") > 0)
        .select(col("vec_id").as("cid"), col("q").as("cq"), col("nq").as("cnq"))
    val centsArr = cents.select(col("cid"), col("cq"), col("cnq"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
      .sortBy(_._1).toSeq
    // re-fold the centroid literal to fetch the OWN cell's vector: the
    // assignment already proved the argmax; here the same literal array
    // yields (cid, dot, cnq) in one narrow pass — still no join
    val assigned = corpus.filter(col("nq") > 0)
      .withColumn("cid", bestCellExpr(centsArr))
    val centLit = typedLit(centsArr)
    val own = element_at(
      filter(centLit, c => c.getField("_1") === col("cid")), 1)
    val w = Window.partitionBy(col("cid"))
      .orderBy(col("pcos").desc, col("vec_id").asc)
    assigned
      .withColumn("dot_q", aggregate(
        zip_with(col("q"), own.getField("_2"), (x, y) => x * y), lit(0L), (a, v) => a + v))
      .withColumn("pcos", col("dot_q").cast("double") /
        sqrt(col("nq").cast("double") * own.getField("_3").cast("double")))
      .withColumn("rank_in_cell", row_number().over(w).cast("long"))
      .select(col("vec_id"), col("cid"), col("dot_q"), col("rank_in_cell"))
      .unionByName(corpus.filter(col("nq") === 0)
        .select(col("vec_id"), lit(-1L).as("cid"), lit(0L).as("dot_q"),
          lit(0L).as("rank_in_cell")))
  }

  /** Per-label centroid drift matrix — the embedding-space sibling of
    * [[graft.operators.TextOps.sourceTvd]]'s token-distribution drift:
    * pairwise cosine between label/source centroids, the monitor that
    * tells a corpus builder whether two slices occupy the same region
    * of embedding space (≈1e6 ⇒ interchangeable, low ⇒ distributional
    * shift). Cosine is scale-invariant, so centroid cosine ≡ cosine of
    * the per-label SUM vectors — no division by counts anywhere, and
    * the sums are exact integers over the e6-quantized components.
    *
    * Exactness contract: per-dim sums are exact BIGINTs; the norm and
    * dot cross-products are DECIMAL(38,0) (the `degreeAssortativity`
    * overflow rule — at 10⁹ vectors/label a per-dim sum reaches ~10¹⁵
    * and its square 10³⁰, far past int64); ONE final double produces
    * `cos_e6` (the `agg_correlation` device — identical IEEE
    * expression in both engines). Zero-norm labels report 0.
    *
    * Scale shape: the corpus collapses to a (label, dim) sum table in
    * one map-side-combined aggregate — labels × dims rows, tiny at any
    * corpus size; everything after (self-join on dim, norm join) is
    * arithmetic on that table.
    */
  def labelCentroidDrift(
      embeddings: DataFrame,
      labelCol: String = "label"): DataFrame = {
    val dec = (c: Column) =>
      c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val base = embeddings.select(
      col(labelCol).cast("long").as("label"),
      posexplode(quantize(col("embedding"))).as(Seq("dim", "qv")))
    val sums = base.groupBy(col("label"), col("dim"))
      .agg(sum(col("qv")).as("s"))
    val norms = sums.groupBy(col("label"))
      .agg(sum(dec(col("s")) * dec(col("s"))).as("nrm"))
    val counts = embeddings
      .groupBy(col(labelCol).cast("long").as("label"))
      .agg(count(lit(1)).as("n"))
    val a = sums.select(col("label").as("label_a"), col("dim"), col("s").as("sa"))
    val b = sums.select(col("label").as("label_b"), col("dim"), col("s").as("sb"))
    val dots = a.join(b, Seq("dim"))
      .filter(col("label_a") < col("label_b"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(sum(dec(col("sa")) * dec(col("sb"))).as("dot"))
    dots
      .join(norms.select(col("label").as("label_a"), col("nrm").as("na")), Seq("label_a"))
      .join(norms.select(col("label").as("label_b"), col("nrm").as("nb")), Seq("label_b"))
      .join(counts.select(col("label").as("label_a"), col("n").as("n_a")), Seq("label_a"))
      .join(counts.select(col("label").as("label_b"), col("n").as("n_b")), Seq("label_b"))
      .select(
        col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        when(col("na") > 0 && col("nb") > 0,
          floor(col("dot").cast("double") /
            sqrt(col("na").cast("double") * col("nb").cast("double")) * 1e6))
          .otherwise(0L).cast("long").as("cos_e6"))
  }

  /** Reciprocal-rank fusion of two rankings — the standard hybrid-
    * retrieval combiner (lexical BM25 ∪ vector top-k): each list
    * contributes `10^6 div (kRrf + rank)` for the ids it ranked,
    * absent-from-one-list ids keep the other's contribution, and the
    * fused order is the summed score (exact integers — RRF's 1/(k+r)
    * is the one retrieval fusion that needs no score calibration,
    * which is also what makes it oracle-exact). `kRrf = 60` is the
    * original paper's constant. Inputs are `(idCol, rank)` frames;
    * output `(idCol, rrf_e6, rank)`, ties by id.
    *
    * Scale shape: one full-outer join on the id (both sides are
    * already top-k-sized — k rows, not corpora) and a k-row rank
    * window; the heavy lifting happened in the input rankings.
    */
  def rrfFuse(
      a: DataFrame,
      b: DataFrame,
      k: Int,
      kRrf: Long = 60L,
      idCol: String = "id"): DataFrame = {
    require(k >= 1 && kRrf >= 1)
    val l = a.select(col(idCol), col("rank").as("rank_a"))
    val r = b.select(col(idCol), col("rank").as("rank_b"))
    val fused = l.join(r, Seq(idCol), "full_outer")
      .select(col(idCol),
        (coalesce(expr(s"1000000 div ($kRrf + rank_a)"), lit(0L)) +
          coalesce(expr(s"1000000 div ($kRrf + rank_b)"), lit(0L))).as("rrf_e6"))
    val top = fused.orderBy(col("rrf_e6").desc, col(idCol).asc).limit(k)
    val w = Window.orderBy(col("rrf_e6").desc, col(idCol).asc)
    top.withColumn("rank", row_number().over(w).cast("long"))
  }

  /** Per-query [[rrfFuse]] — the query-SET form for a retrieval
    * pipeline fusing [[graft.operators.TextOps.bm25MultiQuery]] with a
    * per-query vector ranking ([[cosineTopK]]): both inputs carry a
    * `queryCol`, fusion joins on `(query, id)`, and top-`k` is per
    * query. Same exact-integer RRF contribution as the single-query
    * form.
    *
    * Scale shape: inputs are already (queries × k)-sized — the
    * full-outer join and the per-query rank window (partial
    * `WindowGroupLimit` before the query exchange) never touch
    * corpus-sized data.
    */
  def rrfFuseByQuery(
      a: DataFrame,
      b: DataFrame,
      k: Int,
      kRrf: Long = 60L,
      idCol: String = "id",
      queryCol: String = "query_id"): DataFrame = {
    require(k >= 1 && kRrf >= 1)
    val l = a.select(col(queryCol), col(idCol), col("rank").as("rank_a"))
    val r = b.select(col(queryCol), col(idCol), col("rank").as("rank_b"))
    val fused = l.join(r, Seq(queryCol, idCol), "full_outer")
      .select(col(queryCol), col(idCol),
        (coalesce(expr(s"1000000 div ($kRrf + rank_a)"), lit(0L)) +
          coalesce(expr(s"1000000 div ($kRrf + rank_b)"), lit(0L))).as("rrf_e6"))
    val w = Window.partitionBy(col(queryCol))
      .orderBy(col("rrf_e6").desc, col(idCol).asc)
    fused
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Kendall rank agreement between two per-query rankings — the
    * integer-exact diagnostic for how much a lexical and a semantic
    * retriever actually disagree (the number hybrid fusion like
    * [[rrfFuse]] is justified by): for each query, every unordered
    * pair of items BOTH rankings retrieved is concordant if the two
    * rankings order it the same way, discordant otherwise. Emitted as
    * raw integer counts — `tau_a = (concordant − discordant) /
    * n_pairs` is the caller's one presentational division; the engine
    * ships `tau_num` and `n_pairs` so nothing irrational crosses the
    * boundary. Ranks within one ranking are assumed distinct per item
    * (true for any top-k ranking frame), so there are no ties and
    * tau-a is the right variant.
    *
    * Inputs: two `(queryCol, idCol, rank)` frames — the shape
    * [[cosineTopK]] / `bm25MultiQuery` / [[rrfFuseByQuery]] emit.
    * Queries with < 2 common items emit `n_pairs = 0, tau_num = 0`
    * (no evidence ≠ agreement).
    *
    * Scale shape: the common-item join is (queries × k)-sized; the
    * pair enumeration self-joins within each query on `id_l < id_r`,
    * bounded at k(k−1)/2 rows per query by construction — the
    * operator's documented contract is top-k-frame inputs, so the
    * quadratic term is k², never corpus². One final query-keyed
    * count aggregate.
    *
    * Output: `(query_id, n_common, n_pairs, concordant, discordant,
    * tau_num)`.
    */
  def rankAgreement(
      a: DataFrame,
      b: DataFrame,
      idCol: String = "id",
      queryCol: String = "query_id"): DataFrame = {
    val common = a.select(col(queryCol), col(idCol).as("id"), col("rank").as("ra"))
      .join(b.select(col(queryCol), col(idCol).as("id"), col("rank").as("rb")),
        Seq(queryCol, "id"))
    val l = common.select(col(queryCol), col("id").as("id_l"),
      col("ra").as("ra_l"), col("rb").as("rb_l"))
    val r = common.select(col(queryCol), col("id").as("id_r"),
      col("ra").as("ra_r"), col("rb").as("rb_r"))
    val pairs = l.join(r, Seq(queryCol)).filter(col("id_l") < col("id_r"))
      .select(col(queryCol),
        (((col("ra_l") < col("ra_r")) && (col("rb_l") < col("rb_r"))) ||
          ((col("ra_l") > col("ra_r")) && (col("rb_l") > col("rb_r"))))
          .as("conc"))
    val counts = common.groupBy(col(queryCol)).agg(count(lit(1)).as("n_common"))
    val pairAgg = pairs.groupBy(col(queryCol)).agg(
      count(lit(1)).as("n_pairs"),
      sum(when(col("conc"), 1L).otherwise(0L)).as("concordant"))
    counts.join(pairAgg, Seq(queryCol), "left_outer")
      .select(col(queryCol),
        col("n_common"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("concordant"), lit(0L)).as("concordant"),
        (coalesce(col("n_pairs"), lit(0L)) - coalesce(col("concordant"), lit(0L)))
          .as("discordant"),
        (lit(2L) * coalesce(col("concordant"), lit(0L)) -
          coalesce(col("n_pairs"), lit(0L))).as("tau_num"))
  }

  /** Symmetric per-vector int8 quantization — the standard 4× embedding
    * compression before ANN serving / index build: each component maps
    * to `round(x · 127 / amax)` ∈ [−127, 127] where `amax` is the
    * vector's max |component|. Emits the audit stats a quantization
    * pass reports, all exact integers:
    * `(vec_id, dim, amax_e6, sum_q, l1_q, n_sat)` — `n_sat` counts
    * saturated (|q| = 127) components, `amax_e6 = floor(amax·1e6+0.5)`.
    *
    * Rounding is `floor(v + 0.5)` on an IEEE double — deterministic and
    * engine-portable (the single divide by `amax` is the same double on
    * every engine reading the same float32 input). Zero vectors
    * quantize to all-zeros (guarded divide).
    *
    * Scale shape: pure narrow projection over the embedding array — no
    * shuffle; the quantized array itself stays inside the row (callers
    * that persist int8 vectors select `quantizeInt8Vec`).
    */
  def quantizeInt8(embeddings: DataFrame,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val q = quantizeInt8Vec(col(vecCol))
    embeddings.select(
      col(idCol),
      size(col(vecCol)).cast("long").as("dim"),
      floor(amax(col(vecCol)) * 1e6 + 0.5).cast("long").as("amax_e6"),
      aggregate(q, lit(0L), (a, x) => a + x).as("sum_q"),
      aggregate(q, lit(0L), (a, x) => a + abs(x)).as("l1_q"),
      size(filter(q, x => abs(x) === 127)).cast("long").as("n_sat"))
  }

  /** Max |component| of a float vector, in double precision. */
  private def amax(vec: Column): Column =
    array_max(transform(vec, x => abs(x.cast("double"))))

  /** The int8-quantized vector itself: `array<long>` of
    * `floor(x·127/amax + 0.5)` per component (all zeros for a zero
    * vector).
    */
  def quantizeInt8Vec(vec: Column): Column = {
    val a = amax(vec)
    transform(vec, x =>
      when(a > 0d, floor(x.cast("double") * 127d / a + 0.5d))
        .otherwise(0d).cast("long"))
  }

  /** e6-floored cosine between two quantized vectors:
    * `floor(dot·10⁶ / √(nqA·nqB))` — the single IEEE
    * multiply-divide-floor is identical on every engine reading the
    * same exact-integer operands, so downstream ordering/arithmetic on
    * the result is all-integer and oracle-hashable.
    */
  private def cosE6(dot: Column, nqA: Column, nqB: Column): Column =
    floor(dot.cast("double") * lit(1e6) /
      sqrt(nqA.cast("double") * nqB.cast("double"))).cast("long")

  /** Maximal-marginal-relevance rerank (Carbonell & Goldstein 1998):
    * from each query's brute-cosine top-`poolK` candidate pool,
    * greedily select `selectK` results maximizing
    * `λ·cos(q, d) − (1−λ)·max_{s∈selected} cos(d, s)` — relevance
    * traded against redundancy to the results already picked, the
    * standard diversification pass over a retrieval pool (and the
    * diverse-example selection device of RAG/few-shot pipelines).
    * `lambdaE3 = 1000` degenerates to pure relevance order.
    *
    * All ordering is integer: cosines floor to e6 once
    * ([[cosE6]]), the MMR score is
    * `lambdaE3·rel_e6 − (1000−lambdaE3)·max_sim_e6` in BIGINTs, ties
    * break by candidate id. Zero-norm vectors (cosine undefined) are
    * excluded from both sides. Returns
    * `(query_id, cand_id, rel_e6, step)` — `step` is selection order,
    * 1-based; queries whose pool is smaller than `selectK` emit only
    * `pool size` rows.
    *
    * Scale shape: ONE corpus pass builds the pool (broadcast query
    * side, partial window top-k — [[cosineTopK]]'s plan); everything
    * after is pool-sized by contract (≤ |Q|·poolK rows, ≤ |Q|·poolK²
    * pairwise sims), so the greedy loop's `selectK` rounds are
    * broadcast-joined frames that never touch the corpus again.
    * Selected state is ≤ |Q|·selectK rows, lineage-cut per round; all
    * loop caches and superseded round blocks are released before
    * returning (only the tiny result frame's blocks stay).
    */
  def mmrRerank(
      embeddings: DataFrame,
      queryPred: Column,
      poolK: Int = 8,
      selectK: Int = 4,
      lambdaE3: Int = 700,
      checkpointDir: Option[String] = None): DataFrame = {
    require(poolK >= 1, s"mmrRerank: poolK must be >= 1, got $poolK")
    require(selectK >= 1 && selectK <= poolK,
      s"mmrRerank: selectK must be in [1, poolK], got $selectK")
    require(lambdaE3 >= 0 && lambdaE3 <= 1000,
      s"mmrRerank: lambdaE3 must be in [0, 1000], got $lambdaE3")
    val corpus = withQuant(embeddings).filter(col("nq") > 0)
    val queries = corpus.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("q").as("qq"), col("nq").as("qn"))
    val rel = corpus.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id").as("cand_id"), col("q"), col("nq"),
        cosE6(dotQ(col("qq"), col("q")), col("qn"), col("nq")).as("rel_e6"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rel_e6").desc, col("cand_id").asc)
    val pool = rel.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= poolK)
      .select(col("query_id"), col("cand_id"), col("q"), col("nq"), col("rel_e6"))
      .cache()
    // every loop frame below is pool-bounded (≤ |Q|·poolK rows) by the
    // top-k contract — broadcast explicitly rather than waiting for
    // stats on unmaterialized caches (planner would SMJ, PlanQualitySpec)
    val pairs = pool.select(col("query_id"), col("cand_id"), col("q"), col("nq"))
      .join(
        broadcast(pool.select(col("query_id"), col("cand_id").as("other_id"),
          col("q").as("oq"), col("nq").as("onq"))),
        Seq("query_id"))
      .filter(col("cand_id") =!= col("other_id"))
      .select(col("query_id"), col("cand_id"), col("other_id"),
        cosE6(dotQ(col("q"), col("oq")), col("nq"), col("onq")).as("sim_e6"))
      .cache()
    val poolSlim = pool.select(col("query_id"), col("cand_id"), col("rel_e6"))
    // step 1: pure relevance argmax (no redundancy term yet)
    // per-step selected frames are lineage-CUT, not just cached: a
    // cached union chain keeps its whole logical history, and by the
    // terminal action the plan held ~2.4k scan nodes (r18 plan audit,
    // q_mmr_rerank_before.txt) — Catalyst re-optimizes all of it, so
    // planning alone dominated the query. The cut bounds the plan at
    // one step (guide: materialise an intermediate to truncate very
    // wide plans); the frames are ≤ |Q|·selectK rows. Dataset.unpersist
    // does NOT release localCheckpoint blocks (they live outside the
    // CacheManager), so each step's cut is released through
    // [[Checkpoints.release]] once the next step's cut holds its rows —
    // that cut's own blocks, never another query's.
    var selected = Checkpoints.cut(poolSlim
      .groupBy(col("query_id"))
      .agg(min(struct((-col("rel_e6")).as("ns"), col("cand_id").as("cand_id"),
        col("rel_e6").as("rel_e6"))).as("m"))
      .select(col("query_id"), col("m.cand_id").as("cand_id"),
        col("m.rel_e6").as("rel_e6"), lit(1L).as("step")), checkpointDir)
    for (step <- 2 to selectK) {
      val maxSim = pairs
        .join(broadcast(selected.select(col("query_id"),
          col("cand_id").as("other_id"))), Seq("query_id", "other_id"))
        .groupBy(col("query_id"), col("cand_id"))
        .agg(max(col("sim_e6")).as("max_sim_e6"))
      val pick = poolSlim
        .join(broadcast(selected.select(col("query_id"), col("cand_id"))),
          Seq("query_id", "cand_id"), "left_anti")
        .join(broadcast(maxSim), Seq("query_id", "cand_id"))
        .withColumn("score",
          lit(lambdaE3.toLong) * col("rel_e6") -
            lit((1000 - lambdaE3).toLong) * col("max_sim_e6"))
        .groupBy(col("query_id"))
        .agg(min(struct((-col("score")).as("ns"), col("cand_id").as("cand_id"),
          col("rel_e6").as("rel_e6"))).as("m"))
        .select(col("query_id"), col("m.cand_id").as("cand_id"),
          col("m.rel_e6").as("rel_e6"), lit(step.toLong).as("step"))
      val next = Checkpoints.cut(selected.union(pick), checkpointDir)
      Checkpoints.release(Seq(selected))
      selected = next
    }
    // release the pool-sized caches — loop state must not outlive the
    // call at corpus scale (only the final selected cut's blocks stay)
    pool.unpersist(false)
    pairs.unpersist(false)
    selected
  }

  /** Greedy k-center selection (Gonzalez 1985 farthest-point
    * traversal, the 2-approximation of the k-center objective): seed
    * with the lowest vector id, then `selectK − 1` times add the
    * vector maximizing its minimum exact squared L2 distance to the
    * points already selected — the classic diverse-coreset /
    * prototype-selection pass over an embedding corpus (and the
    * initialization of k-means++-style pipelines, made deterministic).
    *
    * Entirely integer: distances are
    * `‖a‖² + ‖b‖² − 2·a·b` on the quantized vectors — exact BIGINTs —
    * and argmax ties break by lower vector id. Returns
    * `(vec_id, step, min_dist_q)` where `min_dist_q` is the selected
    * vector's min squared distance to the prior selection at pick
    * time (0 for the seed). Selecting past the corpus size emits
    * only `corpus size` rows. The farthest-first invariant makes
    * `min_dist_q` non-increasing in `step` (SimilaritySpec law).
    *
    * Scale shape: each round is ONE corpus pass against a broadcast
    * ≤ `selectK`-row selected frame (distance min is a map-side
    * grouped aggregate on the corpus key), and the round's winner is
    * a 1-row argmax aggregate that broadcast-joins back to pick up
    * its vector — no driver collect anywhere. `selectK` passes total,
    * the honest cost of greedy k-center at 100 TB; cache the corpus
    * frame upstream if rounds dominate.
    */
  def kCenterSelect(embeddings: DataFrame, selectK: Int,
      checkpointDir: Option[String] = None): DataFrame = {
    require(selectK >= 1, s"kCenterSelect: selectK must be >= 1, got $selectK")
    val corpus = withQuant(embeddings).cache()
    val seed = corpus
      .join(broadcast(corpus.agg(min(col("vec_id")).as("vec_id"))), Seq("vec_id"))
    // per-step selected frames are lineage-CUT, not just cached (the
    // mmrRerank rationale: the cached union chain reached ~3.6k scan
    // nodes in the r18 plan audit and planning dominated; cut frames
    // are ≤ selectK rows). Each step's cut is released once the next
    // one holds — the mmrRerank device (unpersist alone cannot release
    // localCheckpoint blocks).
    var selected = Checkpoints.cut(
      seed.select(col("vec_id"), col("q"), col("nq"),
        lit(1L).as("step"), lit(0L).as("min_dist_q")), checkpointDir)
    for (step <- 2 to selectK) {
      val sel = selected.select(col("vec_id").as("s_id"), col("q").as("sq"),
        col("nq").as("snq"))
      val minDist = corpus
        .join(selected.select(col("vec_id")), Seq("vec_id"), "left_anti")
        .crossJoin(broadcast(sel))
        .select(col("vec_id"),
          (col("nq") + col("snq") - lit(2L) * dotQ(col("q"), col("sq"))).as("d2"))
        .groupBy(col("vec_id"))
        .agg(min(col("d2")).as("md"))
      val pick = minDist
        .agg(max(struct(col("md").as("md"), (-col("vec_id")).as("nid"))).as("m"))
        .select((-col("m.nid")).as("vec_id"), col("m.md").as("min_dist_q"))
        .filter(col("vec_id").isNotNull)
      val attached = corpus.join(broadcast(pick), Seq("vec_id"))
        .select(col("vec_id"), col("q"), col("nq"),
          lit(step.toLong).as("step"), col("min_dist_q"))
      val next = Checkpoints.cut(selected.union(attached), checkpointDir)
      Checkpoints.release(Seq(selected))
      selected = next
    }
    // release the corpus-sized quantized cache — loop state must not
    // outlive the call at corpus scale (only the final selected cut's
    // blocks stay)
    corpus.unpersist(false)
    selected.select(col("vec_id"), col("step"), col("min_dist_q"))
  }

  /** Exact non-negative integer floor division (`a ≥ 0, b > 0`) that
    * replicates bit-for-bit in SQL: `(a − a mod b) / b` — the
    * numerator is exactly divisible, so the one IEEE divide is exact
    * for quotients < 2⁵³ (all SQ8 quotients are ≤ 255·span, far
    * below). DuckDB twin: `(a - a % b) / b` cast to BIGINT.
    */
  private def divQ(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("long")

  /** SQ8 code of one quantized element against its dimension's
    * `[lo, hi]` range: `((x − lo)·255) div (hi − lo)`, 0 on a constant
    * dimension. ONE definition shared by [[sq8Encode]] / [[sq8TopK]] /
    * [[ivfSq8TopK]] — the full-probe-equivalence spec law and the
    * three oracles all assume the copies cannot diverge.
    */
  private def sq8CodeExpr(x: Column, lo: Column, hi: Column): Column =
    when(hi === lo, lit(0L)).otherwise(divQ((x - lo) * 255L, hi - lo))

  /** Per-element SQ8 codes of a quantized vector. */
  private def sq8CodesCol(q: Column, mnL: Column, mxL: Column): Column =
    transform(q, (x, i) =>
      sq8CodeExpr(x, element_at(mnL, i + 1), element_at(mxL, i + 1)))

  /** Encode→dequantize in one HOF:
    * `recon_i = lo + (code_i·(hi − lo)) div 255`.
    */
  private def sq8ReconCol(q: Column, mnL: Column, mxL: Column): Column =
    transform(q, (x, i) => {
      val lo = element_at(mnL, i + 1)
      val hi = element_at(mxL, i + 1)
      lo + divQ(sq8CodeExpr(x, lo, hi) * (hi - lo), lit(255L))
    })

  /** Per-dimension SQ8 bounds `(mn, mx)` over the quantized corpus —
    * the trained half of scalar quantization. One posexplode +
    * map-side-combining min/max aggregate (d rows per partition cross
    * the exchange, never the corpus), collected as two dim-length
    * literal arrays (driver-bounded like every codebook in this file).
    */
  private[graft] def sq8Bounds(corpus: DataFrame): (Seq[Long], Seq[Long]) = {
    val rows = corpus.select(posexplode(col("q")).as(Seq("pos", "v")))
      .groupBy(col("pos"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      .orderBy(col("pos").asc)
      .collect()
    (rows.map(_.getLong(1)).toSeq, rows.map(_.getLong(2)).toSeq)
  }

  /** SQ8 scalar-quantization encode: each dimension of the quantized
    * vector maps to an 8-bit code against the corpus per-dimension
    * `[mn, mx]` range (the FAISS `SQ8` tier — 4 bytes/dim down to 1;
    * the uniform-quantizer sibling of [[pqEncode]]'s codebook tier):
    * `code_i = ((q_i − mn_i)·255) div (mx_i − mn_i)` (0 when the
    * dimension is constant). Output `(vec_id, codes)` — the
    * persistable index. All arithmetic is exact integer
    * ([[divQ]]), so the encode replicates in SQL; zero-norm vectors
    * are valid (L2 family, the [[pqEncode]] convention).
    *
    * Scale shape: the bounds aggregate is one narrow pass (d rows per
    * partition cross the exchange); encoding is one codegen'd
    * index-aware HOF projection against two dim-length literal
    * arrays — no join, no shuffle, no row blowup.
    */
  def sq8Encode(embeddings: DataFrame): DataFrame = {
    val corpus = withQuant(embeddings)
    val (mn, mx) = sq8Bounds(corpus)
    if (mn.isEmpty)
      return corpus.limit(0).select(col("vec_id"), col("q").as("codes"))
    val mnL = typedLit(mn)
    val mxL = typedLit(mx)
    corpus.select(
      col("vec_id"),
      sq8CodesCol(col("q"), mnL, mxL).as("codes"))
  }

  /** Dequantize SQ8 codes back to the reconstruction grid:
    * `recon_i = lo_i + (code_i·(hi_i − lo_i)) div 255` — the decode
    * half of [[sq8ReconCol]], for scoring against FROZEN codes.
    */
  private def sq8DecodeCol(codes: Column, mnL: Column, mxL: Column): Column =
    transform(codes, (c, i) => {
      val lo = element_at(mnL, i + 1)
      val hi = element_at(mxL, i + 1)
      lo + divQ(c * (hi - lo), lit(255L))
    })

  /** Frozen SQ8 index: the per-dimension bounds `(pos, mn, mx)` plus
    * the encoded corpus `(vec_id, codes)` — what actually persists at
    * 100 TB (1 byte/dim). Probing decodes the codes back to the
    * reconstruction grid, so frozen-reload scoring is bit-identical
    * to [[sq8TopK]]'s fused encode→recon (`recon = decode(encode(q))`
    * by construction — SimilaritySpec pins it).
    */
  case class Sq8Index(bounds: DataFrame, codes: DataFrame) {
    /** Persist + reload both frames — train once, probe forever. */
    def materialized(dir: String): Sq8Index =
      Sq8Index(frozenFrame(bounds, dir, "bounds"),
        frozenFrame(codes, dir, "codes"))
  }

  /** Train the SQ8 bounds and encode the corpus. */
  def sq8Build(embeddings: DataFrame): Sq8Index = {
    val corpus = withQuant(embeddings)
    val (mn, mx) = sq8Bounds(corpus)
    val spark = embeddings.sparkSession
    import spark.implicits._
    val bounds = mn.indices.map(i => (i.toLong, mn(i), mx(i)))
      .toDF("pos", "mn", "mx")
    val codes =
      if (mn.isEmpty) corpus.limit(0).select(col("vec_id"), col("q").as("codes"))
      else corpus.select(col("vec_id"),
        sq8CodesCol(col("q"), typedLit(mn), typedLit(mx)).as("codes"))
    Sq8Index(bounds, codes)
  }

  /** Probe a (frozen or inline) SQ8 index with an external query set
    * `(vec_id, embedding)`: score each query against every decoded
    * corpus reconstruction, ascending asymmetric L2, ties by neighbor
    * id, self excluded — [[sq8TopK]]'s contract over frozen codes.
    */
  def sq8Probe(index: Sq8Index, queryVecs: DataFrame, k: Int = 5): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val b = index.bounds.orderBy(col("pos").asc).collect()
    val (mn, mx) = (b.map(_.getLong(1)).toSeq, b.map(_.getLong(2)).toSeq)
    val qcorpus = withQuant(queryVecs)
    if (mn.isEmpty)
      return qcorpus.limit(0).select(
        col("vec_id").as("query_id"), col("vec_id").as("neighbor_id"),
        col("nq").as("adist_q"), col("nq").as("rank"))
    val recon = index.codes.select(
      col("vec_id"),
      sq8DecodeCol(col("codes"), typedLit(mn), typedLit(mx)).as("recon"))
      .withColumn("rnq", normQ(col("recon")))
    val queries = qcorpus
      .select(col("vec_id").as("query_id"), col("q").as("qq"), col("nq").as("qn"))
    val scored = recon.join(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"),
        (col("qn") + col("rnq") - lit(2L) * dotQ(col("qq"), col("recon")))
          .as("adist_q"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist_q").asc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("adist_q"), col("rank"))
  }

  /** SQ8 approximate top-k — asymmetric scoring against the 8-bit
    * reconstruction: `adist(q, x) = ‖q‖² + ‖recon(x)‖² − 2·q·recon(x)`
    * where `recon_i = mn_i + (code_i·(mx_i − mn_i)) div 255`, exactly
    * the L2 distance to x's dequantized form ([[pqTopK]]'s ADC
    * contract at the scalar tier). Ascending distance, ties by
    * neighbor id, self excluded; output
    * `(query_id, neighbor_id, adist_q, rank)` — all BIGINT.
    *
    * Scale shape — where SQ8 sits in the ANN family: the index is d
    * BYTES per vector (vs d·4 raw, vs m codes for [[pqTopK]]) with no
    * codebook training at all — the bounds aggregate is the entire
    * "training". Encode and reconstruction are narrow HOF projections
    * (recon never shuffles past the scan); scoring streams
    * codes-sized rows against the broadcast query set and the
    * per-query partial top-k (WindowGroupLimit) keeps k rows per
    * (query, partition). The 4× compression costs ≤ span/510 per-
    * dimension reconstruction error — recall sits between brute force
    * and PQ (RECALL.md quantifies).
    */
  def sq8TopK(
      embeddings: DataFrame,
      queryPred: Column,
      k: Int = 5): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val corpus = withQuant(embeddings)
    val (mn, mx) = sq8Bounds(corpus)
    if (mn.isEmpty)
      return corpus.limit(0).select(
        col("vec_id").as("query_id"), col("vec_id").as("neighbor_id"),
        col("nq").as("adist_q"), col("nq").as("rank"))
    val mnL = typedLit(mn)
    val mxL = typedLit(mx)
    // encode→reconstruct in ONE projection: at 100 TB the codes are
    // what persists; recon derives from them in the scan projection
    // and never re-enters the plan past it
    val recon = corpus.select(
      col("vec_id"),
      sq8ReconCol(col("q"), mnL, mxL).as("recon"))
      .withColumn("rnq", normQ(col("recon")))
    val queries = corpus.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("q").as("qq"), col("nq").as("qn"))
    val scored = recon.join(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"),
        (col("qn") + col("rnq") - lit(2L) * dotQ(col("qq"), col("recon")))
          .as("adist_q"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist_q").asc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("adist_q"), col("rank"))
  }

  /** IVF-SQ8 two-stage retrieval — the FAISS `IVF…,SQ8` index family,
    * completing the coarse-quantizer matrix beside [[ivfTopK]] (flat)
    * and [[ivfPqTopK]] (codebook codes): the IVF router sends each
    * query to its `nProbe` nearest cells, and within the probed cells
    * candidates score against their SQ8 dequantized reconstruction
    * ([[sq8TopK]]'s asymmetric distance). SQ8's per-dimension 8-bit
    * grid keeps far more resolution than 4-subspace PQ codes (see
    * RECALL.md: 96.8% vs 7.8% recall@10 on the isotropic fixture) at
    * d bytes/vector — the composition a recall-sensitive service
    * deploys when it can afford 4× (not 16×) compression.
    *
    * `kmeansIters` picks the coarse tier as in [[ivfTopK]] (0 =
    * closed-form stand-in, SQL-oracle replicable); the SQ8 half needs
    * no training tier at all (the bounds aggregate IS the training).
    * Zero-norm corpus vectors assign to no cell (the [[ivfTopK]]
    * edge) and never surface. At full probe over an all-nonzero
    * corpus this equals [[sq8TopK]] exactly (SimilaritySpec law, the
    * [[ivfPqTopK]] equivalence analog). Output
    * `(query_id, neighbor_id, adist_q, rank)`.
    *
    * Scale shape: cell assignment and encode→reconstruct are each one
    * narrow literal projection over the corpus; the only corpus-sized
    * exchange is the candidate join on the cell id; the scored stream
    * into the per-query partial top-k carries one BIGINT per pair.
    */
  def ivfSq8TopK(
      embeddings: DataFrame,
      queryPred: Column,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      k: Int = 5,
      kmeansIters: Int = 0): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val corpus = withQuant(embeddings)
    val (mn, mx) = sq8Bounds(corpus)
    if (mn.isEmpty)
      return corpus.limit(0).select(
        col("vec_id").as("query_id"), col("vec_id").as("neighbor_id"),
        col("nq").as("adist_q"), col("nq").as("rank"))
    val cents =
      if (kmeansIters > 0) kmeansCentroidsQ(corpus, nCentroids, kmeansIters)
      else corpus.filter(col("vec_id") < nCentroids && col("nq") > 0)
        .select(col("vec_id").as("cid"), col("q").as("cq"), col("nq").as("cnq"))
    val centsArr = cents.select(col("cid"), col("cq"), col("cnq"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
      .sortBy(_._1).toSeq
    val mnL = typedLit(mn)
    val mxL = typedLit(mx)
    // zero-norm guard is EXPLICIT: a zero-norm vector's cell cosine is
    // NaN for every cell, and Spark orders NaN LARGEST, so the bare
    // argmax would hand it the lowest cid (not the scaladoc'd "no
    // cell") — the r16 review finding; the when-guard pins cid −1,
    // matching the oracle's nz-filtered assignment
    val recon = corpus
      .withColumn("cid",
        when(col("nq") > 0, bestCellExpr(centsArr)).otherwise(lit(-1L)))
      .select(col("vec_id"), col("cid"),
        sq8ReconCol(col("q"), mnL, mxL).as("recon"))
      .withColumn("rnq", normQ(col("recon")))
    val probes = {
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("ccos").desc, col("cid").asc)
      corpus.filter(queryPred).join(broadcast(cents))
        .withColumn("ccos",
          dotQ(col("q"), col("cq")).cast("double") /
            sqrt(col("nq").cast("double") * col("cnq").cast("double")))
        .withColumn("crn", row_number().over(w))
        .filter(col("crn") <= nProbe)
        .select(col("vec_id").as("query_id"), col("q").as("qq"),
          col("nq").as("qn"), col("cid"))
    }
    val scored = recon.join(probes, Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"),
        (col("qn") + col("rnq") - lit(2L) * dotQ(col("qq"), col("recon")))
          .as("adist_q"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist_q").asc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("adist_q"), col("rank"))
  }

  /** Embedding-space hard-negative mining — the semantic sibling of
    * [[graft.operators.TextOps.hardNegatives]] (the DPR recipe,
    * Karpukhin et al. 2020 §3.2, applied with a dense retriever): the
    * negatives that teach a contrastive model its boundary are the
    * NEAREST different-`labelCol` vectors. Pool = [[cosineTopK]]'s
    * top-`poolK` per query; self (already excluded there) and every
    * same-label vector (the weak positives) drop; the top `k`
    * survivors re-rank in pool order. A query whose pool is eaten by
    * same-label vectors yields fewer than `k` rows — visible
    * scarcity, never padding.
    *
    * Scale shape: the pool stage is [[cosineTopK]]'s plan verbatim
    * (broadcast queries, partial WindowGroupLimit); the label filter
    * joins the |Q|·poolK pool against the (vec_id, label) projection
    * on the id key, and the |Q|-row query-label frame broadcasts.
    *
    * Output: `(query_id, neighbor_id, dot_q, rank)` — rank recomputed
    * after the filter.
    */
  def semanticNegatives(
      embeddings: DataFrame,
      queryPred: Column,
      poolK: Int = 20,
      k: Int = 5,
      labelCol: String = "label"): DataFrame = {
    require(poolK >= k, s"poolK must be >= k, got $poolK < $k")
    val pool = cosineTopK(embeddings, queryPred, poolK)
    val lab = embeddings.select(
      col("vec_id").as("neighbor_id"), col(labelCol).as("__lab"))
    val qlab = embeddings.filter(queryPred).select(
      col("vec_id").as("query_id"), col(labelCol).as("__qlab"))
    val filt = pool
      .join(lab, Seq("neighbor_id"))
      .join(broadcast(qlab), Seq("query_id"))
      .filter(col("__lab") =!= col("__qlab"))
    // the pool's rank IS the cosine order — re-ranking by it avoids
    // recomputing any norm
    val w = Window.partitionBy(col("query_id")).orderBy(col("rank").asc)
    filt
      .withColumn("nrank", row_number().over(w).cast("long"))
      .filter(col("nrank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("dot_q"),
        col("nrank").as("rank"))
  }

  /** Per-dimension binary-quantization thresholds: the exact corpus
    * SUM per dimension plus the corpus COUNT, so the mean-threshold
    * test is the exact integer comparison `q_i · n > s_i` — no
    * division ever happens, the comparison IS the mean test, and it
    * replicates bit-for-bit in SQL. (Headroom: |q_i| ≤ 10⁶ for unit-
    * scale embeddings, so the product stays in int64 through corpora
    * of ~9·10¹² vectors — beyond any single index shard.) One
    * posexplode + map-side-combining sum (d rows per partition cross
    * the exchange), collected as a dim-length literal array — driver-
    * bounded like every codebook in this file.
    */
  private[graft] def bqStats(corpus: DataFrame): (Seq[Long], Long) = {
    val rows = corpus.select(posexplode(col("q")).as(Seq("pos", "v")))
      .groupBy(col("pos"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .orderBy(col("pos").asc)
      .collect()
    (rows.map(_.getLong(1)).toSeq,
      if (rows.isEmpty) 0L else rows.head.getLong(2))
  }

  /** Per-element BQ bits of a quantized vector: 1 iff the element is
    * STRICTLY above its dimension's corpus mean (so a constant
    * dimension is all-zero bits — it carries no information and
    * contributes nothing to any Hamming distance). ONE definition
    * shared by [[bqEncode]] and [[bqTopK]] — the rerank-equivalence
    * spec law and both oracles assume the copies cannot diverge.
    */
  private def bqBitsCol(q: Column, sL: Column, n: Long): Column =
    transform(q, (x, i) =>
      when(x * n > element_at(sL, i + 1), lit(1L)).otherwise(lit(0L)))

  /** Binary-quantization encode: each dimension maps to ONE bit —
    * above/below the corpus per-dimension mean (Jégou et al. 2008's
    * sign-binarization tier; the 1-bit end of the scalar-quantization
    * family next to [[sq8Encode]]'s 8-bit grid). 32× compression over
    * float32, and Hamming distance over the bits is a pure integer
    * kernel — the index modern vector stores keep in RAM when even
    * SQ8 doesn't fit. Output `(vec_id, dim, bit)` rows (the
    * [[sq8Encode]] persistable-index convention, exploded for the
    * oracle). Exact integer arithmetic throughout ([[bqStats]]).
    *
    * Scale shape: the threshold aggregate is one narrow pass (d rows
    * per partition cross the exchange); encoding is one codegen'd
    * index-aware HOF projection against a dim-length literal array —
    * no join, no shuffle.
    */
  def bqEncode(embeddings: DataFrame): DataFrame = {
    val corpus = withQuant(embeddings)
    val (s, n) = bqStats(corpus)
    if (s.isEmpty)
      return corpus.limit(0).select(
        col("vec_id"), col("nq").as("dim"), col("nq").as("bit"))
    val sL = typedLit(s)
    corpus.select(col("vec_id"),
      posexplode(bqBitsCol(col("q"), sL, n)).as(Seq("dim", "bit")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"), col("bit"))
  }

  /** Two-stage binary-quantization retrieval: Hamming-distance
    * candidates over the 1-bit codes, exact L2 rerank of the top
    * `rerankK` — the BQ + rescore pattern production vector stores
    * ship (candidates from the RAM-resident bit index, exact scores
    * only for the shortlist). Hamming distance computes as
    * `popc(a) + popc(b) − 2·a·b` so the existing integer dot kernel
    * ([[dotQ]]) is the whole scorer. Candidate ties break by neighbor
    * id; rerank output `(query_id, neighbor_id, dist_q, rank)` — all
    * BIGINT, ascending exact distance.
    *
    * At `rerankK ≥ corpus size` this equals exact L2 top-k
    * (SimilaritySpec law — the [[ivfPqTopK]] full-probe-equivalence
    * analog); at production rerankK the recall gap is RECALL.md's BQ
    * rows.
    *
    * Scale shape: the Hamming stage streams BIT rows only (the raw
    * vectors never enter it) against the broadcast query codes, and
    * the per-query partial top-rerankK (WindowGroupLimit) keeps
    * rerankK rows per (query, partition); the exact stage joins the
    * candidate ids back to the raw vectors — candidate-sized, id-
    * keyed. 32× less index traffic than brute force for the cost of
    * one shortlist join.
    */
  def bqTopK(
      embeddings: DataFrame,
      queryPred: Column,
      k: Int = 5,
      rerankK: Int = 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rerankK >= k, s"rerankK must be >= k, got $rerankK < $k")
    val corpus = withQuant(embeddings)
    val (s, n) = bqStats(corpus)
    if (s.isEmpty)
      return corpus.limit(0).select(
        col("vec_id").as("query_id"), col("vec_id").as("neighbor_id"),
        col("nq").as("dist_q"), col("nq").as("rank"))
    val sL = typedLit(s)
    def coded(df: DataFrame): DataFrame = df
      .select(col("vec_id"), bqBitsCol(col("q"), sL, n).as("bits"))
      .withColumn("popc", aggregate(col("bits"), lit(0L), (a, v) => a + v))
    val corpusBits = coded(corpus)
    val queryBits = coded(corpus.filter(queryPred))
      .select(col("vec_id").as("query_id"),
        col("bits").as("qbits"), col("popc").as("qpopc"))
    val ham = corpusBits.join(broadcast(queryBits))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (col("qpopc") + col("popc") - lit(2L) * dotQ(col("qbits"), col("bits")))
          .as("ham"))
    val wc = Window.partitionBy(col("query_id"))
      .orderBy(col("ham").asc, col("neighbor_id").asc)
    val cands = ham
      .withColumn("crn", row_number().over(wc))
      .filter(col("crn") <= rerankK)
      .select(col("query_id"), col("neighbor_id"))
    val nbrs = corpus.select(
      col("vec_id").as("neighbor_id"), col("q").as("nv"), col("nq").as("nn"))
    val qd = corpus.filter(queryPred).select(
      col("vec_id").as("query_id"), col("q").as("qq"), col("nq").as("qn"))
    val exact = cands
      .join(nbrs, Seq("neighbor_id"))
      .join(broadcast(qd), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (col("qn") + col("nn") - lit(2L) * dotQ(col("qq"), col("nv")))
          .as("dist_q"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist_q").asc, col("neighbor_id").asc)
    exact
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("dist_q"), col("rank"))
  }
}
