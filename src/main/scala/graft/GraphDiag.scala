package graft

import java.util.Locale

import org.apache.spark.sql.functions._

import graft.operators.GraphOps
import graft.sources.Tables

/** ANF estimate-vs-exact diagnostics report — the graph-tier sibling
  * of [[Recall]] (the r13 verdict's "surface the ANF table in a
  * tracked artifact" item): per hop radius `t`, the HyperANF sketch
  * estimate ([[GraphOps.anfEstimates]], the production path) against
  * the exact bounded closure ([[GraphOps.neighborhoodFunctionAudited]],
  * validation-scale only), with the relative error and the 5% audit
  * gate the `g_anf` oracle rides.
  *
  * Also cross-checks the closure against an INDEPENDENT operator:
  * [[GraphOps.harmonicCentrality2]]'s exact 1- and 2-ball sizes must
  * reproduce the exact pair counts at t = 1 and t = 2
  * (`exact(t) = |V| + Σ n1 (+ Σ n2)`) — two implementations of the
  * same quantity agreeing is the strongest exactness evidence short
  * of an external oracle.
  *
  * Usage: `runMain graft.GraphDiag [sfDir] [outMd] [maxT]` —
  * regenerates ANF.md over the shared co-occurrence projection
  * (fanout-capped at 20, minShared 2 — the `g_*` query graph).
  * Wall-clock is informational; Bench owns timing discipline.
  */
object GraphDiag {

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outMd = args.lift(1).getOrElse("ANF.md")
    val maxT = args.lift(2).map(_.toInt).getOrElse(4)
    val spark = LocalSession()

    val pairs = GraphOps.coOccurrencePairs(
      GraphOps.edgesFromDocs(Tables.relationshipDocs(spark, sfDir)),
      maxFanout = 20, minShared = 2)

    val audited = GraphOps.neighborhoodFunctionAudited(pairs, maxT)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1)
    val est = GraphOps.anfEstimates(pairs, maxT)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap

    val h2 = GraphOps.harmonicCentrality2(pairs)
      .agg(count(lit(1)).as("nv"), sum(col("n1")).as("s1"), sum(col("n2")).as("s2"))
      .head()
    val (nv, s1, s2) = (h2.getLong(0), h2.getLong(1), h2.getLong(2))

    val sb = new StringBuilder
    sb ++= "# ANF / neighborhood-function diagnostics\n\n"
    sb ++= s"Generated by `runMain graft.GraphDiag $sfDir` over the shared\n"
    sb ++= "co-occurrence projection (fanout cap 20, minShared 2 — the `g_*`\n"
    sb ++= s"query graph; $nv vertices). `est` is the HyperANF sketch sum\n"
    sb ++= "(`anfEstimates`, lgConfigK=10 — the production path, O(V) sketch\n"
    sb ++= "state); `exact` is the bounded transitive closure\n"
    sb ++= "(`neighborhoodFunctionAudited` — quadratic, validation-scale\n"
    sb ++= "only); `gate` is the 50-permille audit bit the `g_anf` oracle\n"
    sb ++= "pins.\n\n"
    sb ++= "| t | est pairs | exact pairs | err permille | 5% gate |\n"
    sb ++= "|---|---|---|---|---|\n"
    audited.foreach { case (t, exact, ok) =>
      val e = est.getOrElse(t, 0d)
      val err = if (exact > 0) (e - exact) / exact * 1000 else 0d
      sb ++= String.format(Locale.ROOT, "| %d | %.1f | %d | %+.1f | %s |%n",
        Long.box(t), Double.box(e), Long.box(exact), Double.box(err),
        if (ok) "pass" else "FAIL")
    }
    sb ++= "\nCross-operator exactness check (independent implementations of\n"
    sb ++= "the same balls — `harmonicCentrality2` vs the audited closure):\n"
    val e1 = audited.find(_._1 == 1L).map(_._2)
    val e2 = audited.find(_._1 == 2L).map(_._2)
    sb ++= s"- t=1: |V| + SUM(n1) = ${nv + s1}"
    sb ++= e1.map(v => s" vs closure $v — ${if (v == nv + s1) "MATCH" else "MISMATCH"}\n").getOrElse("\n")
    sb ++= s"- t=2: |V| + SUM(n1) + SUM(n2) = ${nv + s1 + s2}"
    sb ++= e2.map(v => s" vs closure $v — ${if (v == nv + s1 + s2) "MATCH" else "MISMATCH"}\n").getOrElse("\n")
    sb ++= "\nReading the curve: N(t)'s saturation radius is the effective\n"
    sb ++= "diameter of the projection; the sketch path never materializes\n"
    sb ++= "pair state, so the same rounds run at any graph scale while the\n"
    sb ++= "exact column here certifies the estimator at validation scale.\n"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outMd), sb.toString)
    println(sb.toString)
    spark.stop()
  }
}
