package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sources.Tables

/** ANN recall-vs-budget report: recall@k of every approximate
  * retrieval family against the exact [[Similarity.cosineTopK]] ground
  * truth on the real embeddings fixture, across each family's probe
  * budget — the accuracy/cost frontier that SimilaritySpec's fixed
  * recall floors gate but don't expose as a tracked artifact.
  *
  * Two recall definitions, one per family shape:
  *  - ranked families (IVF, PQ/ADC, Matryoshka prefix) return a top-k:
  *    recall@k = |approx top-k ∩ exact top-k| / |exact top-k|.
  *  - candidate generators (single-bucket LSH) return an unranked
  *    candidate set: candidate recall = fraction of exact top-k pairs
  *    present among candidates (the ceiling ANY reranker over those
  *    candidates can reach), reported with the average candidate count
  *    per query — the cost axis (brute force ≡ corpus size).
  *
  * Budget knobs swept: IVF `nProbe` (cells probed of 16), PQ codebook
  * tier (closed-form stand-in vs trained) × k, LSH `planes` (bucket
  * granularity: expected occupancy = n/2^planes), Matryoshka prefix
  * `dims` (of 64). Queries are `vec_id % 50 == 0` (2% of the corpus,
  * 5x the 8-query oracle set — recall quantizes at 1/(|Q|·k), so more
  * queries = finer resolution), k = 10.
  *
  * Usage: `runMain graft.Recall [sfDir] [outMd]` — regenerates
  * RECALL.md. Wall-clock per row is a single [[LocalSession]] run at
  * sf0.1, informational only (Bench owns timing discipline).
  */
object Recall {

  private val K = 10

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outMd = args.lift(1).getOrElse("RECALL.md")
    val spark = LocalSession()

    val emb = Tables.embeddings(spark, sfDir)
    val pred: Column = col("vec_id") % 50 === 0
    val nQueries = emb.filter(pred).count()

    // exact ground truth, driver-held: |Q|·k id pairs (bounded by the
    // query budget, not the corpus)
    val truthDf = Similarity.cosineTopK(emb, pred, K)
      .select(col("query_id"), col("neighbor_id"))
    val truth = truthDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    require(truth.nonEmpty, s"no ground-truth pairs — empty query set under $sfDir?")

    def rankedRecall(df: DataFrame): (Double, Double) = {
      val got = df.select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (got.count(truth).toDouble / truth.size, got.size.toDouble / nQueries)
    }
    def candidateRecall(df: DataFrame): (Double, Double) = {
      val got = df.select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (truth.count(got).toDouble / truth.size, got.size.toDouble / nQueries)
    }

    case class Row(family: String, budget: String, kind: String,
        recall: Double, perQuery: Double, sec: Double)
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }

    val rows = scala.collection.mutable.ArrayBuffer[Row]()

    for (nProbe <- Seq(1, 2, 4, 8, 16)) {
      val ((r, pq), s) = time(rankedRecall(
        Similarity.ivfTopK(emb, pred, nCentroids = 16, nProbe = nProbe, k = K,
          kmeansIters = 4)))
      rows += Row("ivf (kmeans, 16 cells)", s"nProbe=$nProbe", "recall@10", r, pq, s)
    }
    for ((m, ksub, iters, label) <- Seq(
        (4, 16, 0, "m=4 ksub=16 stand-in"),
        (4, 16, 3, "m=4 ksub=16 trained"),
        (8, 32, 3, "m=8 ksub=32 trained"),
        (16, 32, 3, "m=16 ksub=32 trained"))) {
      val ((r, pq), s) = time(rankedRecall(
        Similarity.pqTopK(emb, pred, m = m, ksub = ksub, k = K, iters = iters)))
      rows += Row("pq/adc", label, "recall@10", r, pq, s)
    }
    locally {
      // SQ8 has no probe knob: 255 levels per dimension is the whole
      // budget (d bytes/vector — 4x compression, vs pq m=4's 16x)
      val ((r, pq), s) = time(rankedRecall(Similarity.sq8TopK(emb, pred, k = K)))
      rows += Row("sq8 scalar quantization", "8 bits/dim (fixed)",
        "recall@10", r, pq, s)
    }
    for (nProbe <- Seq(1, 2, 4, 8, 16)) {
      val ((r, pq), s) = time(rankedRecall(
        Similarity.ivfSq8TopK(emb, pred, nCentroids = 16, nProbe = nProbe,
          k = K, kmeansIters = 4)))
      rows += Row("ivf-sq8 (kmeans, 16 cells)", s"nProbe=$nProbe",
        "recall@10", r, pq, s)
    }
    for (rerankK <- Seq(10, 20, 50, 100)) {
      // the 1-bit end of the quantization axis: 32x compression, the
      // shortlist budget (rerankK) is the knob — recall climbs toward
      // exact as the Hamming shortlist widens
      val ((r, pq), s) = time(rankedRecall(
        Similarity.bqTopK(emb, pred, k = K, rerankK = rerankK)))
      rows += Row("binary quantization + exact rerank",
        s"rerankK=$rerankK", "recall@10", r, pq, s)
    }
    for (nProbe <- Seq(1, 2, 4, 8, 16)) {
      val ((r, pq), s) = time(rankedRecall(
        Similarity.ivfPqTopK(emb, pred, nCentroids = 16, nProbe = nProbe,
          m = 4, ksub = 16, k = K, kmeansIters = 4, pqIters = 3)))
      rows += Row("ivf-pq (16 cells, m=4 trained)", s"nProbe=$nProbe",
        "recall@10", r, pq, s)
    }
    for (nProbe <- Seq(1, 2, 4, 8, 16)) {
      val ((r, pq), s) = time(rankedRecall(
        Similarity.ivfPqResidualTopK(emb, pred, nCentroids = 16, nProbe = nProbe,
          m = 4, ksub = 16, k = K, refineK = 5 * K,
          kmeansIters = 4, pqIters = 3)))
      rows += Row("ivf-pq residual+refine (m=4 trained, refineK=50)",
        s"nProbe=$nProbe", "recall@10", r, pq, s)
    }
    for (refineK <- Seq(10, 20, 50, 100)) {
      val ((r, pq), s) = time(rankedRecall(
        Similarity.ivfPqResidualTopK(emb, pred, nCentroids = 16, nProbe = 4,
          m = 4, ksub = 16, k = K, refineK = refineK,
          kmeansIters = 4, pqIters = 3)))
      rows += Row("ivf-pq residual+refine (m=4 trained, nProbe=4)",
        s"refineK=$refineK", "recall@10", r, pq, s)
    }
    for (dims <- Seq(8, 16, 32, 64)) {
      val ((r, pq), s) = time(rankedRecall(
        Similarity.matryoshkaTopK(emb, pred, K, dims)))
      rows += Row("matryoshka prefix", s"dims=$dims/64", "recall@10", r, pq, s)
    }
    for (planes <- Seq(4, 6, 8)) {
      val ((r, pq), s) = time(candidateRecall(
        Similarity.lshBucketedNeighbors(emb, pred, planes)))
      rows += Row("lsh single-bucket", s"planes=$planes", "cand-recall", r, pq, s)
    }
    for (probes <- Seq(0, 2, 4, 8)) {
      val ((r, pq), s) = time(candidateRecall(
        Similarity.lshMultiProbeNeighbors(emb, pred, planes = 8, probes = probes)))
      rows += Row("lsh multi-probe (8 planes)", s"probes=$probes",
        "cand-recall", r, pq, s)
    }
    locally {
      // graph-navigable beam search: the QUERY path over the built kNN
      // graph. The graph is the INDEX (built once, cut — like a vector
      // store's build phase; per-row sec is query cost only, the axis
      // that matches the other families' probe budgets). rounds=0 is
      // the 8-plane bucket seed alone — the single-bucket LSH row's
      // ranked twin — so the rounds sweep isolates what NAVIGATION
      // adds at +beam·graphK candidates per round per query.
      val graph = graft.operators.Checkpoints.cut(
        Similarity.knnGraph(emb, k = 10), None)
      graph.count()
      for (rounds <- Seq(0, 1, 2, 4)) {
        val ((r, pq), s) = time(rankedRecall(
          Similarity.graphSearchTopK(emb, pred, k = K, graph = graph,
            beam = 16, rounds = rounds, planes = 8)))
        rows += Row("graph beam search (kNN k=10, beam=16, 8-plane seeds)",
          s"rounds=$rounds", "recall@10", r, pq, s)
      }
      // the multi-probe seed axis (Lv et al. 2007 flips): wider seed
      // sets without growing graph or index — does richer seeding
      // beat more navigation at the same candidate budget?
      for (probes <- Seq(2, 4, 8)) {
        val ((r, pq), s) = time(rankedRecall(
          Similarity.graphSearchTopK(emb, pred, k = K, graph = graph,
            beam = 16, rounds = 2, planes = 8, seedProbes = probes)))
        rows += Row("graph beam search (kNN k=10, beam=16, multi-probe seeds)",
          s"probes=$probes rounds=2", "recall@10", r, pq, s)
      }
    }
    // the graph-degree axis: k=10 edges may be too thin to navigate —
    // denser layer-0 graphs cost build-time only (the frozen-index
    // phase), not query-time rounds
    for (gk <- Seq(20, 40)) {
      val graph = graft.operators.Checkpoints.cut(
        Similarity.knnGraph(emb, k = gk), None)
      graph.count()
      for (rounds <- Seq(1, 2, 4)) {
        val ((r, pq), s) = time(rankedRecall(
          Similarity.graphSearchTopK(emb, pred, k = K, graph = graph,
            beam = 16, rounds = rounds, planes = 8)))
        rows += Row(s"graph beam search (kNN k=$gk, beam=16, 8-plane seeds)",
          s"rounds=$rounds", "recall@10", r, pq, s)
      }
      // everything on: dense graph + wide beam + probed seeds
      val ((r, pq), s) = time(rankedRecall(
        Similarity.graphSearchTopK(emb, pred, k = K, graph = graph,
          beam = 32, rounds = 4, planes = 8, seedProbes = 8)))
      rows += Row(s"graph beam search (kNN k=$gk, beam=32, probes=8)",
        s"rounds=4", "recall@10", r, pq, s)
    }

    val corpusN = emb.count()
    val sb = new StringBuilder
    sb ++= "# ANN recall vs probe budget\n\n"
    sb ++= s"Generated by `runMain graft.Recall $sfDir` — exact ground truth is\n"
    sb ++= s"`Similarity.cosineTopK` (k=$K) over `$sfDir/embeddings.parquet`\n"
    sb ++= s"($corpusN vectors, $nQueries queries = `vec_id % 50 == 0`).\n"
    sb ++= "`per-query` is retrieved rows (ranked families: ≤ k) or candidates\n"
    sb ++= "(LSH — the reranker's cost axis; brute force would be "
    sb ++= s"${corpusN - 1}).\n"
    sb ++= "Candidate recall is the ceiling any reranker over those candidates\n"
    sb ++= s"can reach. Seconds are one ${spark.sparkContext.master} run, informational.\n\n"
    sb ++= "| family | budget | metric | recall | per-query | sec |\n"
    sb ++= "|---|---|---|---|---|---|\n"
    rows.foreach { r =>
      sb ++= f"| ${r.family} | ${r.budget} | ${r.kind} | ${r.recall * 100}%.1f%% | ${r.perQuery}%.1f | ${r.sec}%.2f |\n"
    }
    sb ++= "\nReading the frontier:\n"
    sb ++= "- IVF recall rises with probed cells and hits 100% at full probe\n"
    sb ++= "  (nProbe = nCentroids ≡ brute force) — budget is corpus-fraction\n"
    sb ++= "  scanned, ~nProbe/16 here.\n"
    sb ++= "- PQ scans every row but through m codes (a dim·4/m-byte payload\n"
    sb ++= "  cut); its recall cap is quantization distortion, not probe\n"
    sb ++= "  budget — recall climbs with m·log2(ksub) bits/vector and with\n"
    sb ++= "  the trained tier at identical query-time cost. The synthetic\n"
    sb ++= "  fixture's near-isotropic vectors are PQ's hardest case (no\n"
    sb ++= "  low-rank structure for the codebooks to spend bits on), so\n"
    sb ++= "  these absolute numbers are a floor; the per-budget ORDERING is\n"
    sb ++= "  the tracked signal.\n"
    sb ++= "- SQ8 keeps PER-DIMENSION resolution (uniform 8-bit grid over each\n"
    sb ++= "  dimension's corpus range) instead of PQ's shared subspace\n"
    sb ++= "  codebooks, at d bytes/vector (4x compression vs pq m=4's 16x) —\n"
    sb ++= "  on isotropic vectors its distortion (< span/255 + 1 per dim,\n"
    sb ++= "  never overshooting) is far below any 4-subspace codebook's, so\n"
    sb ++= "  its single row sits well above the whole pq/adc sweep: the\n"
    sb ++= "  memory-vs-recall rung between raw vectors and PQ.\n"
    sb ++= "- LSH single-bucket probes ~n/2^planes candidates; planes trades\n"
    sb ++= "  recall against bucket occupancy. The banded OR-construction\n"
    sb ++= "  (lshBandBuckets, used by the near-dup/knn generators) amplifies\n"
    sb ++= "  recall at multiplied candidate cost.\n"
    sb ++= "- IVF-SQ8 composes the IVF router with the SQ8 scorer: its probe\n"
    sb ++= "  curve tracks flat IVF's almost exactly (the router dominates)\n"
    sb ++= "  and converges to SQ8's ceiling — not 100% — at full probe,\n"
    sb ++= "  the quantization-distortion residue. Contrast IVF-PQ's flat\n"
    sb ++= "  ~9%: at 4 subspaces the scorer, not the router, is the recall\n"
    sb ++= "  bottleneck; at 8 bits/dim the router is. That one comparison\n"
    sb ++= "  is the memory-budget decision at 100 TB.\n"
    sb ++= "- MULTI-PROBE (Lv et al. 2007) is the third LSH axis: same index,\n"
    sb ++= "  same planes, but each query also probes the buckets reached by\n"
    sb ++= "  flipping its lowest-|projection| sign bits — candidate recall\n"
    sb ++= "  rises monotonically in probes (spec law: strict candidate\n"
    sb ++= "  superset) at ~(probes+1)x the per-query candidate cost, without\n"
    sb ++= "  inflating anyone else's buckets. probes=0 IS the single-bucket\n"
    sb ++= "  row (sanity); probes=planes approaches the banded construction's\n"
    sb ++= "  recall at a fraction of its index size.\n"
    sb ++= "- IVF-PQ multiplies the two budgets: the probed corpus fraction\n"
    sb ++= "  (~nProbe/16) AND the codes-only payload; at full probe it\n"
    sb ++= "  converges to the matching pq/adc trained row exactly (the\n"
    sb ++= "  SimilaritySpec law, visible above). Note recall is NOT monotone\n"
    sb ++= "  in nProbe under a lossy scorer: extra probed cells add distorted\n"
    sb ++= "  impostors that can outrank true neighbors the router had already\n"
    sb ++= "  found — small nProbe acts as an implicit exactness filter, a\n"
    sb ++= "  known IVFADC effect worth knowing before spending probe budget.\n"
    sb ++= "- The RESIDUAL+REFINE rows are the deployed composition (r14,\n"
    sb ++= "  the FAISS IVF,PQ,Refine shape): codes quantize cell-relative\n"
    sb ++= "  residuals (same bits, far less distortion) and the top-refineK\n"
    sb ++= "  ADC candidates re-rank by exact cosine, so distortion can only\n"
    sb ++= "  cost recall at the preselection boundary. It dominates the\n"
    sb ++= "  flat rows at every probe budget, and recall is PROVABLY\n"
    sb ++= "  monotone in nProbe under full refine (the SimilaritySpec law:\n"
    sb ++= "  candidate sets nest + exact re-rank). At a fixed finite\n"
    sb ++= "  refineK the boundary itself can dip slightly at large nProbe\n"
    sb ++= "  (extra probed cells push true neighbors past the ADC\n"
    sb ++= "  top-refineK — visible above) — the deployed rule is FAISS's:\n"
    sb ++= "  scale refineK with nProbe. The refineK sweep is that second\n"
    sb ++= "  budget axis at fixed nProbe.\n"
    sb ++= "- Matryoshka prefix recall is the MRL coarse-stage quality curve;\n"
    sb ++= "  dims=64 is the full vector (sanity row, 100%).\n"
    sb ++= "- GRAPH BEAM SEARCH (r17) is the query path the kNN-graph build\n"
    sb ++= "  exists for (HNSW-class layer-0, Malkov 2018): rounds=0 is the\n"
    sb ++= "  ranked single-bucket seed (compare the lsh planes=8 row's\n"
    sb ++= "  ceiling); each round adds <= beam*graphK candidates per query —\n"
    sb ++= "  a budget directly comparable to multi-probe's (probes+1)*occupancy\n"
    sb ++= "  and IVF's nProbe/16 corpus fraction. Per-row sec is query cost\n"
    sb ++= "  over the prebuilt (cut) graph — the build is the index phase,\n"
    sb ++= "  paid once like IVF's kmeans or PQ's codebooks. Recall is\n"
    sb ++= "  provably monotone in rounds (spec law: candidate sets nest +\n"
    sb ++= "  exact rerank) and converges to the graph's reachable ceiling,\n"
    sb ++= "  not 100%: seeds or navigation must REACH a true neighbor before\n"
    sb ++= "  the exact rerank can keep it.\n"
    sb ++= "- The r18 sweep answers whether navigation saturates below the\n"
    sb ++= "  cell routers: NO — the k=10 graph was the binding constraint,\n"
    sb ++= "  not navigation. Density is the cheapest recall axis (k=10 -> 20\n"
    sb ++= "  -> 40 at rounds=4: 43 -> 64 -> 76%, query cost ~flat — the\n"
    sb ++= "  degree rides the build phase); multi-probe seeds add a few\n"
    sb ++= "  points at LOWER cost than an extra round (probes=8 rounds=2 ≈\n"
    sb ++= "  rounds=4 recall at ~2/3 the time on the thin graph); and the\n"
    sb ++= "  composed config (k=40, beam=32, probes=8, rounds=4) reaches\n"
    sb ++= "  ~95% recall@10 at ~3 s/query-set — past IVF nProbe=8 (79%),\n"
    sb ++= "  within 2 points of SQ8 (96.8%) at a fraction of a full corpus\n"
    sb ++= "  scan, the HNSW-class operating point the production papers\n"
    sb ++= "  report. Remaining gap to 100%: single-layer seeds (an upper\n"
    sb ++= "  layer would route seeds globally; measured unnecessary at this\n"
    sb ++= "  corpus size).\n"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outMd), sb.toString)
    println(sb.toString)
    spark.stop()
  }
}
