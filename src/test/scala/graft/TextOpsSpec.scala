package graft

import org.apache.spark.sql.functions._

import graft.functions.Hashing
import graft.operators.TextOps

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("portableHash matches the hand-computed polynomial") {
    // h0=7; "ab": (7*31+97)=314; (314*31+98)=9832
    val out = Seq("ab").toDF("s").select(Hashing.portableHash(col("s"))).head().getLong(0)
    assert(out === 9832L)
  }

  test("token counts: whitespace vs BPE-ish pretokenization") {
    val df = Seq((1L, "Hello, world 42")).toDF("doc_id", "text")
    // ws: ["Hello,","world","42"]; bpe: ["Hello",",","world","42"]; chars: 15
    assert(rowSet(TextOps.tokenCounts(df)) === Set(Seq(1L, 3L, 4L, 15L)))
  }

  test("redactPii scrubs emails, IPs, phone-like runs; counts redactions") {
    val df = Seq(
      (1L, "mail bob.smith+x@corp.example.co or call +1 (415) 555-0142 now"),
      (2L, "server at 192.168.001.255 port 8080"),
      (3L, "clean text, no pii at all"),
      (4L, "two mails: a@b.io and c.d@e.org")
    ).toDF("doc_id", "text")
    val out = TextOps.redactPii(df).select(col("doc_id"), col("text_redacted"), col("n_redactions"))
    assert(rowSet(out) === Set(
      Seq(1L, "mail <EMAIL> or call <PHONE> now", 2L),
      // port number is only 4 digits — not phone-shaped, survives
      Seq(2L, "server at <IP> port 8080", 1L),
      Seq(3L, "clean text, no pii at all", 0L),
      Seq(4L, "two mails: <EMAIL> and <EMAIL>", 2L)))
  }

  test("quality score: exact scaled ratios and keep flag") {
    val df = Seq((1L, "the the the the the")).toDF("doc_id", "text")
    // ntok=5 nchar=19 stop=5 alpha=15
    assert(rowSet(TextOps.qualityScore(df)) === Set(
      Seq(1L, 5L, 19L * 1000 / 5, 1000L, 15L * 1000 / 19, true)))
  }

  test("language id: marker argmax with CJK short-circuit") {
    val df = Seq(
      (1L, "the cat is proud of it and the dog"),
      (2L, "el perro la casa los gatos de que"),
      (3L, "der hund die katze das haus und ist"),
      (4L, "le chien les chats des maisons une est"),
      (5L, "中文 text")).toDF("doc_id", "text")
    assert(rowSet(TextOps.langId(df)) === Set(
      Seq(1L, "en"), Seq(2L, "es"), Seq(3L, "de"), Seq(4L, "fr"), Seq(5L, "zh")))
  }

  test("graft_* kernels callable from SQL text after registration") {
    graft.functions.NativeOps.registerSql(spark)
    val r = spark.sql(
      "SELECT graft_portable_hash('ab') AS h, " +
        "graft_dot_q(array(2L, 3L), array(4L, 5L)) AS d, " +
        "graft_norm_q(graft_quantize_e6(array(CAST(1.0 AS FLOAT)))) AS n").head()
    assert(r.getLong(0) === 9832L)
    assert(r.getLong(1) === 23L)
    assert(r.getLong(2) === 1000000L * 1000000L)
  }

  test("hash split: deterministic buckets, boundaries respected") {
    val docs = (1L to 200L).map(i => (i, s"document number $i")).toDF("doc_id", "text")
    val s1 = TextOps.hashSplit(docs, 800, 100)
    val s2 = TextOps.hashSplit(docs, 800, 100)
    assert(rowSet(s1) === rowSet(s2)) // rerun-stable
    val bad = s1.filter(
      (col("bucket") < 800 && col("split") =!= "train") ||
        (col("bucket") >= 800 && col("bucket") < 900 && col("split") =!= "val") ||
        (col("bucket") >= 900 && col("split") =!= "test"))
    assert(bad.count() === 0)
  }

  test("quality top-k keeps at most k docs per group, ranked by alpha ratio") {
    val docs = Seq(
      (1L, "en", "s1", "all alpha words here"),
      (2L, "en", "s1", "mixed 123 456 !!"),
      (3L, "en", "s1", "also full alpha text"),
      (4L, "fr", "s1", "texte"))
      .toDF("doc_id", "lang", "source", "text")
    val out = TextOps.qualityTopK(docs, Seq("lang", "source"), 2)
    val perGroup = out.groupBy(col("lang"), col("source")).count().collect()
    assert(perGroup.forall(_.getLong(2) <= 2))
    // doc 2 (lowest alpha ratio) must be the one dropped from en/s1
    assert(!out.select("doc_id").collect().map(_.getLong(0)).contains(2L))
  }

  test("repetition stats: dup-token and top-bigram ratios, degenerate docs score 0") {
    val df = Seq(
      (1L, "a a a a"),   // dup = (4-1)/4 = 750; bigram "a a" x3 of 3 = 1000
      (2L, "a b c d"),   // dup = 0; 3 distinct bigrams -> 333
      (3L, "x"),         // no bigrams -> 0
      (4L, "")           // no tokens -> 0, 0
    ).toDF("doc_id", "text")
    assert(rowSet(TextOps.repetitionStats(df)) === Set(
      Seq(1L, 4L, 750L, 1000L),
      Seq(2L, 4L, 0L, 333L),
      Seq(3L, 1L, 0L, 0L),
      Seq(4L, 0L, 0L, 0L)))
  }

  test("fingerprint: equal texts equal fp, distinct texts distinct fp") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("doc_id", "text")
    val fp = TextOps.fingerprint(df).as[(Long, Long)].collect().toMap
    assert(fp(1L) === fp(2L))
    assert(fp(1L) !== fp(3L))
  }

  test("domain quota: at most k per group, hash-ordered, rerun-stable") {
    val docs = (1L to 30L).map(i => (i, s"src${i % 3}", s"doc body number $i"))
      .toDF("doc_id", "source", "text")
    val out = TextOps.domainQuota(docs, "source", 4)
    val perGroup = out.groupBy(col("source")).count().collect()
    assert(perGroup.length === 3 && perGroup.forall(_.getLong(1) === 4L))
    assert(rowSet(out) === rowSet(TextOps.domainQuota(docs, "source", 4)))
    // selection is by hash order: the kept set must equal the 4 lowest
    // (hash, doc_id) keys per source, computed independently
    val expected = docs
      .select(col("doc_id"), col("source"), Hashing.fastHash(col("text")).as("h"))
      .collect().toSeq.groupBy(_.getString(1)).toSeq.flatMap { case (_, rows) =>
        rows.sortBy(r => (r.getLong(2), r.getLong(0))).take(4).map(_.getLong(0))
      }.toSet
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet === expected)
  }

  test("weighted sample: k per group, priority = hash div weight, weight tilts odds") {
    val docs = (1L to 60L).map(i => (i, s"src${i % 2}", s"document body $i"))
      .toDF("doc_id", "source", "text")
    val out = TextOps.weightedSample(docs, length(col("text")).cast("long"), "source", 5)
    val perGroup = out.groupBy(col("source")).count().collect()
    assert(perGroup.length === 2 && perGroup.forall(_.getLong(1) === 5L))
    // kept set = 5 smallest (pmod(hash,P) div weight, doc_id) per group
    val expected = docs
      .select(col("doc_id"), col("source"),
        pmod(Hashing.fastHash(col("text")), lit(Hashing.P)).as("h"),
        length(col("text")).cast("long").as("w"))
      .collect().toSeq.groupBy(_.getString(1)).toSeq.flatMap { case (_, rows) =>
        rows.sortBy(r => (r.getLong(2) / r.getLong(3), r.getLong(0))).take(5).map(_.getLong(0))
      }.toSet
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet === expected)
    // weight dominance: a huge weight forces selection regardless of hash
    val tilted = docs.withColumn("wt",
      when(col("doc_id") === 2L, lit(1000000000L)).otherwise(lit(1L)))
    val kept = TextOps.weightedSample(tilted, col("wt"), "source", 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(2L), "priority ~ h/w must rank the heavy doc first")
  }

  test("vocab top-k: exact counts, count-desc token-asc order") {
    val docs = Seq((1L, "b a b c"), (2L, "a b z")).toDF("doc_id", "text")
    val out = TextOps.vocabTopK(docs, 3).collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq === Seq(("b", 3L), ("a", 2L), ("c", 1L)))
  }

  test("char chunks: strided offsets, short tail, content hash") {
    // 10 chars, chunkLen=4, stride=3 -> offsets 0,3,6,9
    val docs = Seq((1L, "abcdefghij")).toDF("doc_id", "text")
    val out = TextOps.charChunks(docs, 4, 3)
      .select("off", "chunk_idx", "chunk_len").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(out.toSeq === Seq((0L, 0L, 4L), (3L, 1L, 4L), (6L, 2L, 4L), (9L, 3L, 1L)))
    // chunk_hash is the content hash of the substring (spot-check off=3)
    val h = TextOps.charChunks(docs, 4, 3, hash = Hashing.Portable)
      .filter(col("off") === 3).select("chunk_hash").head().getLong(0)
    val expect = Seq("defg").toDF("s")
      .select(Hashing.portableHash(col("s"))).head().getLong(0)
    assert(h === expect)
  }

  test("length quartiles: exact interpolation at dyadic points") {
    // lengths 10,20,30,40: p25 = 10 + 0.75*10 = 17.5, p50 = 25, p75 = 32.5
    val docs = Seq(10L, 20L, 30L, 40L).zipWithIndex
      .map { case (n, i) => (i.toLong, "s", n) }.toDF("doc_id", "source", "n_chars")
    assert(rowSet(TextOps.lengthQuartiles(docs)) === Set(
      Seq("s", 4L, 1750L, 2500L, 3250L)))
  }

  test("tfidf top-k: integer scores, rarity ranks above frequency") {
    // 'rare' df=1, 'common' df=3 -> for doc 1 (tf 1 each):
    // score(rare) = 1*1000*3/1 = 3000 > score(common) = 1000
    val docs = Seq(
      (1L, "rare common"), (2L, "common x"), (3L, "common y")).toDF("doc_id", "text")
    val out = TextOps.tfidfTopK(docs, 1)
    val top1 = out.filter(col("doc_id") === 1).head()
    assert(top1.getString(1) === "rare" && top1.getLong(3) === 3000L && top1.getLong(4) === 1L)
    // every doc contributes exactly k=1 row
    assert(out.count() === 3)
  }

  test("packSequences: full coverage, budget cap, boundary-spanning docs") {
    // one shard so the packing order is just doc_id; budget 5 tokens
    val docs = Seq(
      (1L, "t1 t2 t3"),          // 3 toks -> seq 0 [0,3)
      (2L, "t1 t2 t3 t4"),       // 4 toks -> spans seq 0 (2) + seq 1 (2)
      (3L, ""),                  // 0 toks -> dropped
      (4L, "t1")).toDF("doc_id", "text") // 1 tok -> seq 1
    val out = TextOps.packSequences(docs, budget = 5, nShards = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    assert(out === Set((1L, 0L, 3L), (2L, 0L, 2L), (2L, 1L, 2L), (4L, 1L, 1L)))
  }

  test("stratifiedSample: per-stratum rates, default fallback, nested samples") {
    val docs = (1L to 400L).map { i =>
      val g = Seq("en", "zh", "xx")((i % 3).toInt)
      (i, g, s"doc body number $i")
    }.toDF("doc_id", "lang", "text")
    val out = TextOps.stratifiedSample(docs, Seq("en" -> 500, "zh" -> 0), 1000)
    val byLang = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!byLang.contains("zh"))                  // rate 0 -> empty stratum
    assert(byLang("xx") === 133L)                   // default 1000 -> all kept
    assert(byLang.getOrElse("en", 0L) < 134L)       // rate 500 -> strict subset
    // nested: the 250-permille sample is a subset of the 500-permille one
    val s250 = TextOps.stratifiedSample(docs, Seq("en" -> 250), 1000)
      .filter(col("lang") === "en").select("doc_id")
    val s500 = TextOps.stratifiedSample(docs, Seq("en" -> 500), 1000)
      .filter(col("lang") === "en").select("doc_id")
    assert(s250.join(s500, Seq("doc_id"), "left_anti").count() === 0)
  }

  test("bm25TopK: rare terms outweigh common, tf saturates, length norm bites") {
    val docs = Seq(
      (1L, "cat dog"),                       // rare 'cat', one hit, short
      (2L, "dog dog dog dog"),               // common 'dog' only
      (3L, "cat cat dog filler filler filler filler filler"), // 2x cat, long
      (4L, "filler filler"),                 // no hits
      (5L, "dog")).toDF("doc_id", "text")
    val out = TextOps.bm25TopK(docs, Seq("cat", "dog"), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._3)
    val scores = out.map(r => r._1 -> r._2).toMap
    // docs with the rare term beat dog-only docs
    assert(out.take(2).map(_._1).toSet === Set(1L, 3L),
      s"cat docs must rank first, got ${out.toSeq}")
    // no-hit doc scores 0 and ranks last
    assert(scores(4L) === 0L && out.last._1 === 4L)
    // hand-check doc 5 (single term, tf=1): N=5, df_dog=4, dl=1, tot=17
    //   idf_e3 = (1000*(10-8+1)) div 9 = 333
    //   ln_e3  = 250 + (750*1*5) div 17 = 470 ; den = 1000 + (1200*470) div 1000 = 1564
    //   score  = (333*1*2200) div 1564 = 468
    assert(scores(5L) === 468L)
    // determinism + k truncation
    assert(TextOps.bm25TopK(docs, Seq("cat", "dog"), 2).count() === 2L)
  }

  test("bm25MultiQuery: per-query top-k, ≡ bm25TopK on a 1-query set") {
    val docs = Seq(
      (1L, "cat dog"),
      (2L, "dog dog dog dog"),
      (3L, "cat cat dog filler filler filler filler filler"),
      (4L, "filler filler"),
      (5L, "dog")).toDF("doc_id", "text")
    val q = Seq(
      10L -> "cat", 10L -> "dog", // the bm25TopK fixture query
      20L -> "filler",            // single common term
      30L -> "absent"             // term in no doc
    ).toDF("query_id", "term")
    val out = TextOps.bm25MultiQuery(docs, q, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))

    // 1-query-set equivalence: query 10 ≡ bm25TopK(Seq("cat","dog"))
    // on every MATCHING doc (the set form drops bm25TopK's zero-score
    // padding rows — doc 4 here)
    val single = TextOps.bm25TopK(docs, Seq("cat", "dog"), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter(_._2 > 0).toSet
    assert(out.filter(_._1 == 10L).map(r => (r._2, r._3, r._4)).toSet === single)

    // hand-check from the bm25TopK spec carries over: doc 5 score 468
    assert(out.find(r => r._1 == 10L && r._2 == 5L).get._3 === 468L)

    // query 20: docs 3 and 4 contain 'filler'; all scores positive,
    // ranks 1..2 by (score desc, doc_id)
    val q20 = out.filter(_._1 == 20L)
    assert(q20.map(_._2).toSet === Set(3L, 4L))
    assert(q20.forall(_._3 > 0) && q20.map(_._4).sorted.toSeq === Seq(1L, 2L))

    // a query whose terms match nothing yields no rows, not zero rows
    assert(!out.exists(_._1 == 30L))

    // duplicate (query_id, term) rows must not double-count
    val dup = TextOps.bm25MultiQuery(docs, q.union(q), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(dup.toSet === out.toSet)

    // k truncation per query
    val k1 = TextOps.bm25MultiQuery(docs, q, 1)
    assert(k1.count() === 2L) // one row per matching query (10, 20)
  }

  test("bm25MultiQuery: the shuffle path is row-identical") {
    // the beyond-broadcast-budget path changes plan shape only — every
    // (query_id, doc_id, score_e3, rank) must match the broadcast path
    // bit for bit (the plan-side assertion lives in PlanQualitySpec)
    val docs = Seq(
      (1L, "cat dog"),
      (2L, "dog dog dog dog"),
      (3L, "cat cat dog filler filler filler filler filler"),
      (4L, "filler filler"),
      (5L, "dog")).toDF("doc_id", "text")
    val q = Seq(
      10L -> "cat", 10L -> "dog",
      20L -> "filler",
      30L -> "absent").toDF("query_id", "term")
    def rows() =
      TextOps.bm25MultiQuery(docs, q, 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val broadcasted = rows()
    assert(shuffled(rows()) === broadcasted)
    assert(broadcasted.nonEmpty) // equivalence of empties would prove nothing
  }

  test("tokenGini: impurity extremes, hand value, empty-doc zero row") {
    val docs = Seq(
      (1L, "a a a a"),      // one token: gini 0
      (2L, "a b c d"),      // all distinct: 1e6*(16-4)/16 = 750000
      (3L, "a a b"),        // 1e6*(9-5)/9 = 444444
      (4L, "")).toDF("doc_id", "text")
    val out = TextOps.tokenGini(docs)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out === Map(
      1L -> ((4L, 1L, 0L)),
      2L -> ((4L, 4L, 750000L)),
      3L -> ((3L, 2L, 444444L)),
      4L -> ((0L, 0L, 0L))))
  }

  test("mixPlan: binding source saturates, others downsample to target ratio") {
    val docs = Seq(
      (1L, "sA", "w w w w w w w w w w"),  // sA: 10 tokens
      (2L, "sB", "w w w w w"),            // sB: 5 tokens
      (3L, "sB", "w w w w w"),            // sB total 10
      (4L, "sC", "w w")                   // sC: 2 tokens (binding)
    ).toDF("doc_id", "source", "text")
    // targets 50/30/20: budgets are 10*1000/500=20, 10*1000/300=33,
    // 2*1000/200=10 -> budget 10; takes 5/3/2; rates 500/300/1000
    val out = TextOps.mixPlan(docs, Seq("sA" -> 500, "sB" -> 300, "sC" -> 200))
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out === Map(
      "sA" -> ((10L, 500L, 5L, 500L)),
      "sB" -> ((10L, 300L, 3L, 300L)),
      "sC" -> ((2L, 200L, 2L, 1000L))))
    // untargeted sources are excluded
    assert(TextOps.mixPlan(docs, Seq("sA" -> 1000)).count() === 1L)
  }

  test("oovRate: literal-vocab coverage, empty-doc pin, top-vocab composition") {
    val docs = Seq(
      (1L, "a b a c"),   // vs vocab {a,b}: oov = {c} -> 1/4
      (2L, "x y"),       // fully OOV
      (3L, "")).toDF("doc_id", "text")
    val out = TextOps.oovRate(docs, Seq("a", "b"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) === ((4L, 1L, 250L)))
    assert(out(2L) === ((2L, 2L, 1000L)))
    assert(out(3L) === ((0L, 0L, 0L)))
    // top-vocab form: k covering every token -> zero OOV everywhere
    val all = TextOps.oovRateTopVocab(docs, 100)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(all === Map(1L -> 0L, 2L -> 0L, 3L -> 0L))
  }

  test("packSequences properties on a multi-shard corpus") {
    val docs = (1L to 60L).map(i => (i, ("w " * (i % 7 + 1).toInt).trim)).toDF("doc_id", "text")
    val out = TextOps.packSequences(docs, budget = 8, nShards = 4).cache()
    // per-document token coverage: emitted portions sum to the doc's count
    val perDoc = out.groupBy("doc_id").agg(sum("toks_in_seq").as("s"))
      .join(docs.select(col("doc_id"), size(TextOps.tokens(col("text"))).cast("long").as("n")), "doc_id")
    assert(perDoc.filter(col("s") =!= col("n")).count() === 0)
    // per-sequence budget: no (shard, seq) exceeds the budget, and every
    // sequence except a shard's last is exactly full
    val perSeq = out.groupBy("shard", "seq_id").agg(sum("toks_in_seq").as("s")).cache()
    assert(perSeq.filter(col("s") > 8).count() === 0)
    val lastSeq = perSeq.groupBy("shard").agg(max("seq_id").as("last"))
    assert(perSeq.join(lastSeq, "shard")
      .filter(col("seq_id") < col("last") && col("s") =!= 8).count() === 0)
  }

  test("bigramLmScore: hand-computed bits on a tiny corpus") {
    // corpus: d1 = "a b a b", d2 = "a b x", d3 = "z" (no bigrams)
    // prefix counts: c(a·)=3, c(b·)=2; bigram counts: ab=3, ba=1, bx=1
    // ilog2: a→1, b→1, ab→1, ba→0, bx→0
    // d1 instances ab,ba,ab → bits 0+1+0 = 1 over 3 → mean 333
    // d2 instances ab,bx   → bits 0+1   = 1 over 2 → mean 500
    val docs = Seq(1L -> "a b a b", 2L -> "a b x", 3L -> "z")
      .toDF("doc_id", "text")
    val out = TextOps.bigramLmScore(docs)
      .as[(Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out(1L) === ((3L, 1L, 333L, true)))
    assert(out(2L) === ((2L, 1L, 500L, true)))
    assert(out(3L) === ((0L, 0L, 0L, false)))
    // keep threshold binds: 400 mbits keeps d1 (333) and drops d2 (500)
    val tight = TextOps.bigramLmScore(docs, maxBitsE3 = 400)
      .as[(Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r._5).toMap
    assert(tight === Map(1L -> true, 2L -> false, 3L -> false))
  }

  test("shardShuffle: deterministic permutation, complete shards, dense numbering") {
    val docs = (1L to 100L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val out = TextOps.shardShuffle(docs, nShards = 8)
      .as[(Long, Long, Long, Long)].collect()
    // every doc exactly once, shard = pos mod n
    assert(out.length === 100)
    assert(out.map(_._1).toSet === (1L to 100L).toSet)
    assert(out.forall { case (_, pos, shard, _) => shard === pos % 8 && pos >= 0 })
    // pos matches the spec-pinned portable hash of "graft:<id>"
    val expected = docs.select(col("doc_id"),
        Hashing.portableHash(concat(lit("graft:"), col("doc_id").cast("string"))))
      .as[(Long, Long)].collect().toMap
    assert(out.forall { case (id, pos, _, _) => pos === expected(id) })
    // within each shard: numbering is dense from 1 and follows pos asc
    out.groupBy(_._3).foreach { case (_, rows) =>
      val byNum = rows.sortBy(_._4)
      assert(byNum.map(_._4).toSeq === (1L to rows.length).toSeq)
      assert(byNum.map(_._2).toSeq === byNum.map(_._2).sortBy(identity).toSeq)
    }
    // rerun is bit-identical (no RNG state); a new salt permutes
    val again = TextOps.shardShuffle(docs, 8).as[(Long, Long, Long, Long)].collect()
    assert(out.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
    val salted = TextOps.shardShuffle(docs, 8, salt = "epoch2")
      .as[(Long, Long, Long, Long)].collect()
    assert(salted.sortBy(_._1).map(_._2).toSeq !== out.sortBy(_._1).map(_._2).toSeq)
  }

  test("dsirWeights: hand-computed bits on a tiny corpus") {
    // corpus (flag = target): d1 T "t t t t t", d2 T "t t c c",
    // d3 F "c c c", d4 F "t c", d5 null-flag "q" (null ⇒ non-target)
    // bigram instance counts (3 distinct bigrams, collision-free in
    // 4096 buckets for both hash tiers):
    //   "t t": cr 5 (d1×4 + d2), ct 5   → bits ilog2(6)−ilog2(6) =  0
    //   "t c": cr 2 (d2 + d4),   ct 1   → bits ilog2(2)−ilog2(3) =  0
    //   "c c": cr 3 (d2 + d3×2), ct 1   → bits ilog2(2)−ilog2(4) = −1
    // nt=7, nr=10 ⇒ norm_bits = ilog2(4103)−ilog2(4106) = 12−12 = 0
    val docs = Seq(
      (1L, Some(true), "t t t t t"),
      (2L, Some(true), "t t c c"),
      (3L, Some(false), "c c c"),
      (4L, Some(false), "t c"),
      (5L, None: Option[Boolean], "q")
    ).toDF("doc_id", "flag", "text")
    val out = TextOps.dsirWeights(docs, col("flag"))
      .as[(Long, Boolean, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) === ((true, 4L, 0L)))
    assert(out(2L) === ((true, 3L, -1L)))
    assert(out(3L) === ((false, 2L, -2L)))
    assert(out(4L) === ((false, 1L, 0L)))
    // null flag: non-target in the counts AND false in the output
    assert(out(5L) === ((false, 0L, 0L)))
    // top-3 selection: the three weight-0 docs, tie-broken by doc_id
    val top = TextOps.dsirSample(docs, col("flag"), 3)
      .select(col("doc_id")).as[Long].collect().toSeq
    assert(top === Seq(1L, 4L, 5L))
  }

  test("dsirPrCurve: hand-computed cut quality on the tiny corpus") {
    // weights from the hand-computed fixture above: d1 (T, 0),
    // d2 (T, -1), d3 (F, -2), d4 (F, 0), d5 (F, 0)
    val docs = Seq(
      (1L, Some(true), "t t t t t"),
      (2L, Some(true), "t t c c"),
      (3L, Some(false), "c c c"),
      (4L, Some(false), "t c"),
      (5L, None: Option[Boolean], "q")
    ).toDF("doc_id", "flag", "text")
    val out = TextOps.dsirPrCurve(docs, col("flag"))
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    // keep >= 0: {d1 | d4 d5} — precision 1/3, recall 1/2
    assert(out(0L) === ((1L, 2L, 1L, 333333L, 500000L)))
    // keep >= -1: adds d2 — precision 2/4, recall 1
    assert(out(-1L) === ((2L, 2L, 0L, 500000L, 1000000L)))
    // keep >= -2: adds d3 (a false positive) — precision 2/5
    assert(out(-2L) === ((2L, 3L, 0L, 400000L, 1000000L)))
    assert(out.size === 3)
    // laws on the real fixture: tp+fn constant, recall monotone
    // non-increasing as the threshold rises, precision recomputes
    val fx = TextOps.dsirPrCurve(
      graft.sources.Tables.documents(spark, "/root/testdata/sf0.001"),
      col("source").isin("src0", "src1"))
      .orderBy(col("threshold_bits"))
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(fx.nonEmpty)
    val nTargets = fx.head._2 + fx.head._4
    fx.foreach { r =>
      assert(r._2 + r._4 === nTargets)
      assert(r._5 === r._2 * 1000000L / (r._2 + r._3))
    }
    fx.sliding(2).foreach { case Array(lo, hi) =>
      assert(hi._6 <= lo._6, s"recall rose with threshold: $lo -> $hi")
      case _ => ()
    }
  }

  test("dsirWeights: leaves no persisted RDDs behind") {
    // the bucket model is a bounded driver collect + broadcast, not a
    // corpus-sized cached instance frame — nothing may survive the call
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = TextOps.dsirWeights(docs, col("source") === "src0")
    assert(out.count() === 500)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty,
      s"dsirWeights pinned RDDs: ${after -- before}")
  }

  test("bigramLmScore: hash tier does not change scores (counts are hash-blind)") {
    // scores depend only on the count STRUCTURE of the corpus, so the
    // xxhash64 fast tier and the portable tier must agree row-for-row
    // (absent collisions, which neither tier has on this corpus)
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val fast = TextOps.bigramLmScore(docs, hash = graft.functions.Hashing.Fast)
    val portable = TextOps.bigramLmScore(docs, hash = graft.functions.Hashing.Portable)
    assert(fast.count() === 500)
    assert(fast.exceptAll(portable).count() === 0)
    assert(portable.exceptAll(fast).count() === 0)
  }

  test("cmsTokenEstimates: collision-free sketch is exact; width=1 collapses to the stream total") {
    val docs = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    // 3 tokens x 4 seeds into 256 buckets: no collisions at this size,
    // so the estimate equals the exact count (a 2, b 2, c 1)
    assert(rowSet(TextOps.cmsTokenEstimates(docs, depth = 4, width = 256, k = 10)) ===
      Set(Seq("a", 2L, 2L, true), Seq("b", 2L, 2L, true), Seq("c", 1L, 1L, true)))
    // width=1: every token lands in the one bucket of every row, so
    // every estimate is the full stream total (5) — the maximal
    // overestimate, and over_ok still holds (CMS never undercounts)
    assert(rowSet(TextOps.cmsTokenEstimates(docs, depth = 2, width = 1, k = 10)) ===
      Set(Seq("a", 2L, 5L, true), Seq("b", 2L, 5L, true), Seq("c", 1L, 5L, true)))
    // k limits to the exact top vocabulary (count desc, token asc)
    assert(TextOps.cmsTokenEstimates(docs, k = 2)
      .select("tok").collect().map(_.getString(0)).toSet === Set("a", "b"))
  }

  test("temperatureMix: sqrt flattening and exact quota split") {
    // sA 9 tokens, sB 1 token: raw shares 90/10, sqrt shares 3:1 = 75/25
    val docs = Seq(
      (1L, "sA", "a b c d e f g h i"),
      (2L, "sB", "z"),
      (3L, "sC", "")  // token-less source: present with zero weight
    ).toDF("doc_id", "source", "text")
    assert(rowSet(TextOps.temperatureMix(docs, budgetTokens = 100L)) === Set(
      Seq("sA", 9L, 3L, 750000L, 75L),
      Seq("sB", 1L, 1L, 250000L, 25L),
      Seq("sC", 0L, 0L, 0L, 0L)))
    // non-divisible budget: quota = floor(B*s/T) exactly
    // (B=10, T=4: sA floor(30/4)=7, sB floor(10/4)=2)
    assert(rowSet(TextOps.temperatureMix(docs, budgetTokens = 10L)) === Set(
      Seq("sA", 9L, 3L, 750000L, 7L),
      Seq("sB", 1L, 1L, 250000L, 2L),
      Seq("sC", 0L, 0L, 0L, 0L)))
  }

  test("sourceTvd: identical 0, disjoint 1e6, token-less sources drop out") {
    val docs = Seq(
      (1L, "sA", "x y"), (2L, "sB", "x y"), // identical distributions
      (3L, "sC", "p q"),                    // disjoint vocabulary
      (4L, "sD", null.asInstanceOf[String]) // no tokens -> no pairs
    ).toDF("doc_id", "source", "text")
    assert(rowSet(TextOps.sourceTvd(docs)) === Set(
      Seq("sA", "sB", 2L, 2L, 0L),
      Seq("sA", "sC", 2L, 2L, 1000000L),
      Seq("sB", "sC", 2L, 2L, 1000000L)))
  }

  test("sourceTvd: partial-overlap hand computation") {
    // sA: x2 y1 (N=3); sB: x1 y1 (N=2)
    // S = |2*2 - 1*3| + |1*2 - 1*3| = 2; tvd = 2e6 / (2*3*2) = 166666.67 -> 166666
    val docs = Seq((1L, "sA", "x x y"), (2L, "sB", "x y"))
      .toDF("doc_id", "source", "text")
    assert(rowSet(TextOps.sourceTvd(docs)) === Set(Seq("sA", "sB", 3L, 2L, 166666L)))
    // TVD is symmetric: swapping which source sorts first must only
    // swap the name/total columns, never move the distance
    val swapped = Seq((1L, "sB", "x x y"), (2L, "sA", "x y"))
      .toDF("doc_id", "source", "text")
    assert(rowSet(TextOps.sourceTvd(swapped)) === Set(Seq("sA", "sB", 2L, 3L, 166666L)))
  }

  test("pmiTopK: association ranking, support floor bites, hapax excluded") {
    val docs = Seq(
      (1L, "a b a b a b"),       // (a,b)×3, (b,a)×2
      (2L, "c d c d c d c d"),   // (c,d)×4, (d,c)×3
      (3L, "x y")                // hapax pair — PMI's failure mode
    ).toDF("doc_id", "text")
    // unigrams: a=3 b=3 c=4 d=4 x=1 y=1
    // assoc_e12 = n_pair·1e12 div (c_w1·c_w2):
    //   (a,b): 3e12/9  = 333333333333; (c,d): 4e12/16 = 250000000000
    //   (d,c): 3e12/16 = 187500000000
    val out = TextOps.pmiTopK(docs, minCount = 3, k = 10).collect().map(_.toSeq)
    assert(out.toSeq === Seq(
      Seq("a", "b", 3L, 3L, 3L, 333333333333L),
      Seq("c", "d", 4L, 4L, 4L, 250000000000L),
      Seq("d", "c", 3L, 4L, 4L, 187500000000L)))
    // with the floor off, the hapax pair tops the list at exactly 1e12
    // — the known pathology minCount exists to exclude
    val loose = TextOps.pmiTopK(docs, minCount = 1, k = 1).collect().map(_.toSeq)
    assert(loose.toSeq === Seq(Seq("x", "y", 1L, 1L, 1L, 1000000000000L)))
  }

  test("cmsJoinSize: exact inner product, width-1 collapse still never undercounts") {
    val a = Seq(1L, 1L, 2L, 3L).toDF("user_id")
    val b = Seq(1L, 2L, 2L, 4L).toDF("user_id")
    // exact = 2·1 (key 1) + 1·2 (key 2) = 4
    val out = TextOps.cmsJoinSize(a, b, "user_id").collect().map(_.toSeq)
    assert(out.length === 1)
    assert(out.head(0) === 4L)
    assert(out.head(1).asInstanceOf[Long] >= 4L)
    assert(out.head(2) === true)
    // width=1: every key in one bucket -> est = ΣnA·ΣnB = 4·4 = 16
    assert(rowSet(TextOps.cmsJoinSize(a, b, "user_id", width = 1)) ===
      Set(Seq(4L, 16L, true)))
    // disjoint keys: exact 0, estimate still bounded below by 0
    val c = Seq(9L, 9L).toDF("user_id")
    val dj = TextOps.cmsJoinSize(a, c, "user_id").collect().head
    assert(dj.getLong(0) === 0L && dj.getBoolean(2))
  }

  test("kmvDistinct: exact below k, hand estimator at the boundary, partition-invariant") {
    // 3 distinct tokens < k=64 -> sketch still filling -> exact size out
    val small = Seq((1L, "sA", "x y z x x")).toDF("doc_id", "source", "text")
    assert(rowSet(TextOps.kmvDistinct(small)) === Set(Seq("sA", 3L, 3L, 1000L)))
    // exactly k distinct at k=2: mixed keys mix(314)=971617013,
    // mix(9832)=897973373 -> m_2 = 971617013,
    // est = (2−1)·1000000007 div 971617013 = 1
    val two = Seq((1L, "sB", "a ab a")).toDF("doc_id", "source", "text")
    assert(rowSet(TextOps.kmvDistinct(two, k = 2)) ===
      Set(Seq("sB", 2L, 1L, 500L)))
    // merge path: the sketch is partition-count-invariant (union-truncate)
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val one = rowSet(TextOps.kmvDistinct(docs.repartition(1)))
    val many = rowSet(TextOps.kmvDistinct(docs.repartition(7)))
    assert(one === many && one.nonEmpty)
    // duplicates never move the sketch: doubling the corpus is a no-op
    // on every column except nothing (same distinct set)
    assert(rowSet(TextOps.kmvDistinct(docs.unionAll(docs))) === one)
  }

  test("hashSampleQuantiles: rate-1 ≡ exact; hand type-1 ranks; sampled subset laws") {
    val rows = (1L to 10L).map(i => ("a", i, i)).toDF("k", "id", "v")
    // rate 1 admits every row: estimates coincide with the audit path
    val full = TextOps.hashSampleQuantiles(rows, "k", "id", "v", rate = 1)
      .collect().map(_.toSeq)
    // n=10: p50 rank ⌈10·500/1000⌉=5 -> 5; p90 rank ⌈9000/1000⌉=9 -> 9
    assert(full.toSeq === Seq(Seq("a", 10L, 10L, 5L, 5L, 9L, 9L)))
    // rate 10 on the fixture: sample is a strict subset, estimates
    // exist for every event_type (hundreds of rows each), and the
    // estimate is one of the group's actual values
    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_type"), col("event_id"),
        floor(col("value") * 10000 + 0.5).cast("long").as("v"))
    val out = TextOps.hashSampleQuantiles(ev, "event_type", "event_id", "v",
      rate = 10).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(2) > 0 && r.getLong(2) < r.getLong(1))
      assert(!r.isNullAt(4) && !r.isNullAt(6))
    }
    // determinism: same rows, any partitioning, same artifact
    assert(rowSet(TextOps.hashSampleQuantiles(ev.repartition(7),
      "event_type", "event_id", "v", rate = 10)) ===
      out.map(_.toSeq).toSet)
  }

  test("kmvOverlap: exact branch closed-form; identical sources; laws on fixture") {
    // both sources below k -> every estimate short-circuits to exact:
    // A = {x,y,z}, B = {y,z,w}: union 4, inter 2, jaccard 1/2
    val small = Seq(
      (1L, "sA", "x y z x"),
      (2L, "sB", "y z w")).toDF("doc_id", "source", "text")
    assert(rowSet(TextOps.kmvOverlap(small)) ===
      Set(Seq("sA", "sB", 4L, 2L, 4L, 4L, 1000L, 2L, 2L, 500000L)))
    // identical token sets -> sketches coincide: n_both = k_union,
    // jaccard exactly 1, inter_est = union_est, exacts equal
    val same = Seq(
      (1L, "sA", "p q r s t"),
      (2L, "sB", "t s r q p p")).toDF("doc_id", "source", "text")
    val sr = TextOps.kmvOverlap(same).collect().map(_.toSeq)
    assert(sr.length === 1)
    val Seq(_, _, kU, nBoth, uEst, exU, uPm, iEst, exI, jac) = sr.head
    assert(nBoth === kU && jac === 1000000L && iEst === uEst &&
      exI === exU && uPm === 1000L)
    // fixture laws (estimator branch live at k=16): column invariants,
    // duplicate-blindness, partition-invariance of the whole artifact
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val one = rowSet(TextOps.kmvOverlap(docs.repartition(1)))
    assert(one.nonEmpty)
    assert(one === rowSet(TextOps.kmvOverlap(docs.repartition(7))))
    assert(one === rowSet(TextOps.kmvOverlap(docs.unionAll(docs))))
    one.foreach { r =>
      val Seq(a, b, kU2, nB, uE, exU2, _, iE, exI2, j) = r
      assert(a.asInstanceOf[String] < b.asInstanceOf[String])
      assert(nB.asInstanceOf[Long] <= kU2.asInstanceOf[Long] &&
        kU2.asInstanceOf[Long] <= 16L)
      assert(j.asInstanceOf[Long] <= 1000000L)
      assert(iE.asInstanceOf[Long] <= uE.asInstanceOf[Long])
      assert(exI2.asInstanceOf[Long] <= exU2.asInstanceOf[Long])
    }
  }

  test("nbSourceClassify ≡ reference NB on a hand corpus; disjoint vocab classifies") {
    // distinctive per-source vocabulary; enough docs that both splits
    // are non-empty under the 500-permille text-hash split
    val docs = (1L to 60L).map { i =>
      val src = s"src${i % 3}"
      val word = Seq("alpha", "beta", "gamma")((i % 3).toInt)
      (i, src, s"$word $word token$i $word")
    }.toDF("doc_id", "source", "text")
    val out = TextOps.nbSourceClassify(docs, trainPermille = 500)
      .collect().map(_.toSeq)
    assert(out.nonEmpty)
    // reference implementation: same split, counts, ilog2 bits
    val P = 1000000007L
    def phS(s: String): Long = s.foldLeft(7L)((a, c) => (a * 31 + c.toLong) % P)
    def ilog2(n: Long): Int = 63 - java.lang.Long.numberOfLeadingZeros(n)
    val rows = (1L to 60L).map { i =>
      val src = s"src${i % 3}"
      val word = Seq("alpha", "beta", "gamma")((i % 3).toInt)
      (i, src, s"$word $word token$i $word")
    }
    val (tr, te) = rows.partition(r => phS(r._3) % 1000 < 500)
    val cnt = tr.flatMap(r => r._3.split("\\s+").map(t => (r._2, phS(t))))
      .groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
    val tot = cnt.groupBy(_._1._1).map { case (s, m) => (s, m.values.sum) }
    val vocab = cnt.keys.map(_._2).toSet.size.toLong
    val pri = tr.groupBy(_._2).map { case (s, d) => (s, d.size.toLong) }
    val nTrain = tr.size.toLong
    val expected = te.map { case (id, actual, text) =>
      val scored = pri.keys.toSeq.sorted.map { cand =>
        val bits = text.split("\\s+").map { t =>
          ilog2(tot(cand) + vocab) - ilog2(cnt.getOrElse((cand, phS(t)), 0L) + 1)
        }.sum.toLong + ilog2(nTrain) - ilog2(pri(cand))
        (bits, cand)
      }.min
      Seq(id, actual, scored._2, scored._1, scored._2 == actual)
    }.toSet
    assert(out.map(identity).toSet === expected)
    // the shared "alpha/beta/gamma" signal dominates: every held-out
    // doc classifies to its true source
    assert(out.forall(_(4) === true))
  }

  test("LM instance cache: one-slot lifecycle across bigram/trigram scoring calls") {
    // the Similarity.releaseBandCache device applied to the LM family
    // (r16 ADVICE): repeated scoring calls hold at most ONE cached
    // corpus-sized instance frame, and releaseLmCache frees the last
    val docs = (1L to 20L)
      .map(i => (i, s"alpha beta gamma delta tok$i epsilon zeta"))
      .toDF("doc_id", "text")
    TextOps.releaseLmCache()
    // materialize through the UN-PRUNED plan: a plain .count() lets
    // Catalyst eliminate the scorer's final unique-key left-outer join
    // and with it the whole cached-instances subtree — the cache then
    // never materializes and the census reads 0 (the r16 finding that
    // also re-based the bench action)
    TextOps.bigramLmScore(docs).queryExecution.toRdd.count()
    val afterOne = spark.sparkContext.getPersistentRDDs.size
    assert(afterOne >= 1, "scoring must materialize the cached instance frame")
    // a second call (even of the other order) evicts the first frame
    // before caching its own — the RDD census must not grow
    TextOps.trigramLmScore(docs).queryExecution.toRdd.count()
    assert(spark.sparkContext.getPersistentRDDs.size <= afterOne,
      "repeated LM scoring must not accumulate instance-frame cache entries")
    // release frees the slot; a second release is a no-op
    val before = spark.sparkContext.getPersistentRDDs.size
    TextOps.releaseLmCache()
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after === before - 1, s"expected one freed entry, $before -> $after")
    TextOps.releaseLmCache()
    assert(spark.sparkContext.getPersistentRDDs.size === after)
    // an evicted (unpersisted) earlier result is recompute-safe: the
    // second score's rows equal a fresh computation's
    assert(rowSet(TextOps.trigramLmScore(docs)) ===
      rowSet(TextOps.trigramLmScore(docs)))
    TextOps.releaseLmCache()
  }

  test("linearSourceClassify: bigram odds beat unigram NB on correlated features") {
    // unigram distributions IDENTICAL across classes (16 x, 16 y each)
    // — only bigram ORDER discriminates: srcA is run-shaped
    // ("x x.. y y.."), srcB alternates. Unigram NB ties every test doc
    // and degenerates to the lexicographic tie-break; the hashed
    // unigram+bigram linear odds classify both exactly.
    val train = ((1L to 4L).map(i => (i, "srcA", "x x x x y y y y")) ++
      (5L to 8L).map(i => (i, "srcB", "x y x y x y x y")))
      .toDF("doc_id", "source", "text")
    val test = Seq(
      (101L, "srcA", "x x x y y y"),
      (102L, "srcB", "x y x y x y")).toDF("doc_id", "source", "text")

    val nb = TextOps.nbScore(test, TextOps.nbTrain(train))
      .collect().map(r => r.getLong(0) -> (r.getString(2), r.getBoolean(4))).toMap
    // NB: identical unigram bits -> tie-break predicts srcA for BOTH
    assert(nb(101L) === (("srcA", true)))
    assert(nb(102L) === (("srcA", false)))

    val lin = TextOps.linearScore(test, TextOps.linearTrain(train))
      .collect().map(r =>
        r.getLong(0) -> ((r.getString(2), r.getLong(3), r.getBoolean(4)))).toMap
    // hand-computed closed form (V=6 features, tot=60 per class,
    // priors/denominators cancel): doc 101 odds = 2*3 - 2 + 2*3 = 10
    // for srcA; doc 102 odds = 3*2 + 2*3 = 12 for srcB
    assert(lin(101L) === (("srcA", 10L, true)))
    assert(lin(102L) === (("srcB", 12L, true)))
    // the law the operator exists for: strictly more correct than NB
    assert(lin.values.count(_._3) > nb.values.count(_._2))

    // hash-split front door: deterministic, partition-invariant, and
    // the frozen-model round-trip scores identically
    val docs = (1L to 60L).map { i =>
      val src = s"src${i % 3}"
      val word = Seq("alpha", "beta", "gamma")((i % 3).toInt)
      (i, src, s"$word $word token$i $word")
    }.toDF("doc_id", "source", "text")
    val out = TextOps.linearSourceClassify(docs, trainPermille = 500)
      .collect().map(_.toSeq).toSet
    assert(out.nonEmpty)
    assert(TextOps.linearSourceClassify(docs.repartition(7), trainPermille = 500)
      .collect().map(_.toSeq).toSet === out)
    // disjoint per-source content vocabulary: every held-out doc
    // classifies to its true source
    assert(out.forall(_(4) === true))
    val dir = java.nio.file.Files.createTempDirectory("linmodel").toString
    val frozen = TextOps.linearTrain(
      docs.filter(org.apache.spark.sql.functions.pmod(
        graft.functions.Hashing.Portable(org.apache.spark.sql.functions.col("text")),
        org.apache.spark.sql.functions.lit(1000L)) < 500)).materialized(dir)
    val rescored = TextOps.linearScore(
      docs.filter(org.apache.spark.sql.functions.pmod(
        graft.functions.Hashing.Portable(org.apache.spark.sql.functions.col("text")),
        org.apache.spark.sql.functions.lit(1000L)) >= 500), frozen)
      .collect().map(_.toSeq).toSet
    assert(rescored === out)
  }

  test("logisticTrain: gradient epochs beat the closed-form odds under class imbalance") {
    // 8 'big' docs of pure filler vs 2 'small' docs = filler + two
    // markers. The closed-form NB log-count-ratio weights give every
    // FILLER feature ±2 whole bits from class size alone (c_big=8 vs
    // c_small=2), which the hoisted denominator (+1/-1 per instance)
    // and prior only partly cancel — hand-computed odds for the small
    // test doc: big = (7·2 − 4·1) − 11 + 2 = +1, small = (−14 + 4)
    // + 11 − 2 = −1 → closed form predicts BIG. Gradient descent
    // unlearns the class-size bias (filler gradients cancel against
    // the bias as the big scores saturate) while the markers' weights
    // keep growing — 8 epochs at lrShift=4 classify both test docs.
    val train = ((1L to 8L).map(i => (i, "big", "alpha beta gamma delta")) ++
      Seq((9L, "small", "alpha beta gamma delta zz yy"),
        (10L, "small", "alpha beta gamma delta zz yy")))
      .toDF("doc_id", "source", "text")
    val test = Seq(
      (101L, "big", "alpha beta gamma delta"),
      (102L, "small", "alpha beta gamma delta zz yy"))
      .toDF("doc_id", "source", "text")
    val lin = TextOps.linearScore(test, TextOps.linearTrain(train))
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    // the premise: closed form gets the minority doc wrong
    assert(lin(101L) === true && lin(102L) === false,
      s"fixture premise broke: $lin")
    val model = TextOps.logisticTrain(train, epochs = 8, lrShift = 4)
    val logi = TextOps.logisticScore(test, model)
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(logi(101L) === true && logi(102L) === true, s"logistic: $logi")

    // determinism across runs, partitionings, and checkpoint modes
    val again = TextOps.logisticScore(test,
      TextOps.logisticTrain(train.repartition(7), epochs = 8, lrShift = 4,
        checkpointDir = Some(TestSpark.ckptDir)))
      .collect().map(_.toSeq).toSet
    assert(again === TextOps.logisticScore(test, model).collect().map(_.toSeq).toSet)

    // frozen-model round trip scores identically
    val dir = java.nio.file.Files.createTempDirectory("logimodel").toString
    val rescored = TextOps.logisticScore(test, model.materialized(dir))
      .collect().map(_.toSeq).toSet
    assert(rescored === again)

    // untrained features stay exactly zero: the weight table holds
    // only touched (cand, f) rows — s·train-vocab bounded
    assert(model.w.count() === 2L * 11L)
  }

  test("bpeMerges: overlap counting, greedy rewrite, early stop, invariances") {
    // 'aa'(n=2) + 'ab'(n=1): step1 merges (a,a) with count 2, step2
    // (a,b); step3 finds no pairs -> output stops at 2 rows
    val docs = Seq((1L, "aa aa ab")).toDF("doc_id", "text")
    assert(rowSet(TextOps.bpeMerges(docs, steps = 3)) ===
      Set(Seq(1L, "a", "a", 2L), Seq(2L, "a", "b", 1L)))
    // overlap counting: 'aaaa' has THREE (a,a) pairs (get_stats rule);
    // greedy left-to-right rewrite yields [aa, aa], then one (aa,aa)
    val quad = Seq((1L, "aaaa")).toDF("doc_id", "text")
    assert(rowSet(TextOps.bpeMerges(quad, steps = 3)) ===
      Set(Seq(1L, "a", "a", 3L), Seq(2L, "aa", "aa", 1L)))
    // odd run: 'aaa' -> [aa, a] (the trailing candidate is consumed),
    // then (aa, a) merges
    val tri = Seq((1L, "aaa")).toDF("doc_id", "text")
    assert(rowSet(TextOps.bpeMerges(tri, steps = 2)) ===
      Set(Seq(1L, "a", "a", 2L), Seq(2L, "aa", "a", 1L)))
    // duplication doubles counts but never changes the learned pairs;
    // partitioning never changes anything
    val fix = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val one = TextOps.bpeMerges(fix.repartition(1), steps = 3)
      .collect().map(_.toSeq).toSet
    assert(one.size === 3)
    assert(TextOps.bpeMerges(fix.repartition(7), steps = 3)
      .collect().map(_.toSeq).toSet === one)
    val doubled = TextOps.bpeMerges(fix.unionAll(fix), steps = 3)
      .collect().map(_.toSeq).toSet
    assert(doubled === one.map {
      case Seq(s, a, b, n) => Seq(s, a, b, n.asInstanceOf[Long] * 2)
    })
  }

  test("bpeSegment: self-application reproduces training; unseen words use learned pieces") {
    // 'abab'(2) + 'ab'(1): step1 (a,b) with 2·2+1 = 5 (overlap-free
    // here), step2 (ab,ab) with 2
    val docs = Seq((1L, "abab abab ab")).toDF("doc_id", "text")
    val merges = TextOps.bpeMerges(docs, steps = 3)
    assert(rowSet(merges) ===
      Set(Seq(1L, "a", "b", 5L), Seq(2L, "ab", "ab", 2L)))
    // applying the tokenizer to its own training corpus lands on the
    // training end state: both words collapse to single pieces
    assert(rowSet(TextOps.bpeSegment(docs, merges)) === Set(
      Seq("abab", 2L, 1L, "abab"),
      Seq("ab", 1L, 1L, "ab")))
    // unseen words segment with learned pieces in rank order
    val novel = Seq((9L, "abba baab")).toDF("doc_id", "text")
    assert(rowSet(TextOps.bpeSegment(novel, merges)) === Set(
      Seq("abba", 1L, 3L, "ab b a"),
      Seq("baab", 1L, 3L, "b a ab")))
    // empty merge table = character segmentation
    assert(rowSet(TextOps.bpeSegment(
      Seq((1L, "ab")).toDF("doc_id", "text"),
      merges.filter(col("step") < 0))) ===
      Set(Seq("ab", 1L, 2L, "a b")))
    // single-pass train+segment ≡ the two-pass composition — including
    // past the early stop (steps=3 > the 2 learnable merges)
    assert(rowSet(TextOps.bpeTrainSegmentation(docs, steps = 3)) ===
      rowSet(TextOps.bpeSegment(docs, merges)))
    val fix = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    assert(rowSet(TextOps.bpeTrainSegmentation(fix, steps = 3)) ===
      rowSet(TextOps.bpeSegment(fix, TextOps.bpeMerges(fix, steps = 3))))
  }

  test("byte-level BPE: lossless on CJK/emoji, no UNK, pre-token coverage, pack composes") {
    import org.apache.spark.sql.functions.{expr => sexpr}
    // pre-token coverage law: byteTokens consumes every character
    // exactly once — concat of pre-tokens reproduces the text
    val texts = Seq(
      "Hey  there, 世界! 42x",
      "café 🚀🚀 日本語\n tabs\tok",
      // vertical tab: in Java's \s but NOT RE2's — the explicit
      // whitespace class routes it to the punctuation run in BOTH
      // engines (and NBSP likewise)
      "a" + 11.toChar + "b c" + 160.toChar + "d",
      "")
    val cov = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"),
        array_join(TextOps.byteTokens(col("text")), "").as("rejoined"))
      .collect()
    cov.foreach(r => assert(r.getString(2) === r.getString(1),
      s"byteTokens must cover text byte-for-byte: ${r.getLong(0)}"))

    // losslessness + closed alphabet on a CJK/emoji corpus: every
    // piece is whole hex bytes, and unhex(concat(pieces)) decodes back
    // to the word — no UNK can exist by construction
    val docs = Seq(
      (1L, "日本語 日本語 日本"),
      (2L, "🚀🚀 café café")).toDF("doc_id", "text")
    val seg = TextOps.bpeTrainSegmentation(docs, steps = 4, byteLevel = true)
    val rows = seg.select(col("word"), col("segmented"),
        sexpr("decode(unhex(replace(segmented, ' ', '')), 'UTF-8')").as("decoded"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val pieces = r.getString(1).split(" ")
      assert(pieces.forall(p => p.length % 2 == 0 &&
        p.forall(c => "0123456789ABCDEF".contains(c))),
        s"piece not whole hex bytes: ${r.getString(1)}")
      assert(r.getString(2) === r.getString(0),
        s"lossless law broken for word ${r.getString(0)}")
    }
    // the repeated 9-byte CJK word collapses under 4 merges: its
    // piece count strictly drops below its byte count
    val jp = rows.find(_.getString(0) == "日本語").get
    assert(jp.getString(1).split(" ").length < 9)

    // self-application law holds in byte mode too
    assert(rowSet(seg) === rowSet(TextOps.bpeSegment(
      docs, TextOps.bpeMerges(docs, steps = 4, byteLevel = true),
      byteLevel = true)))

    // pipe composition: the byte-level segmentation frame drops into
    // the tokenize→pack DAG exactly like the char-mode one (join by
    // pre-token, sum subword counts, pack) — every doc packs, with
    // counts from the byte segmentation
    val fix = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val bseg = TextOps.bpeTrainSegmentation(fix, steps = 3, byteLevel = true)
    val perDoc = fix
      .select(col("doc_id"), explode(TextOps.byteTokens(col("text"))).as("word"))
      .join(bseg.select(col("word"), col("n_pieces")), Seq("word"))
      .groupBy(col("doc_id")).agg(sum(col("n_pieces")).as("n_tok"))
    val packed = TextOps.packByCount(perDoc, budget = 256, nShards = 8,
      hash = graft.functions.Hashing.Portable)
    assert(packed.count() > 0)
    assert(perDoc.count() === fix.filter(length(col("text")) > 0).count())
  }

  test("wordpieceSegment: greedy longest match, continuations, all-or-nothing [UNK]") {
    val docs = Seq((1L, "unhappy cat cat cats scat x")).toDF("doc_id", "text")
    val vocab = Seq("un", "##happy", "##h", "cat", "##s", "s")
      .toDF("piece")
    assert(rowSet(TextOps.wordpieceSegment(docs, vocab)) === Set(
      // longest match wins at every position: ##happy (5 chars) over ##h
      Seq("unhappy", 1L, 2L, "un ##happy"),
      Seq("cat", 2L, 1L, "cat"),
      // interior positions match only ##-form pieces
      Seq("cats", 1L, 2L, "cat ##s"),
      // 's' matches at position 0, but no ##-piece covers 'c' at
      // position 1 — the WHOLE word fails (pinned all-or-nothing rule)
      Seq("scat", 1L, 1L, "[UNK]"),
      Seq("x", 1L, 1L, "[UNK]")))
    // greedy is greedy, not optimal: 'ab' consumes first even when the
    // only completable split was 'a ##bcd' — pinned WordPiece behavior
    val g = Seq((1L, "abcd")).toDF("doc_id", "text")
    val v2 = Seq("ab", "a", "##bcd", "##c").toDF("piece")
    assert(rowSet(TextOps.wordpieceSegment(g, v2)) ===
      Set(Seq("abcd", 1L, 1L, "[UNK]")))
    // maxPieceChars bounds candidate generation: a piece longer than
    // the cap can never match
    val v3 = Seq("abcd", "a", "##b", "##c", "##d").toDF("piece")
    assert(rowSet(TextOps.wordpieceSegment(g, v3, maxPieceChars = 3)) ===
      Set(Seq("abcd", 1L, 4L, "a ##b ##c ##d")))
    assert(rowSet(TextOps.wordpieceSegment(g, v3)) ===
      Set(Seq("abcd", 1L, 1L, "abcd")))
    // the shuffled vocab join is row-identical
    assert(shuffled(rowSet(TextOps.wordpieceSegment(docs, vocab)))
      === rowSet(TextOps.wordpieceSegment(docs, vocab)))
  }

  test("unigramSegment: min-cost DP value, piece-count tiebreak, unreachable NULLs") {
    // "abab": ab+ab (7+7=14, 2 pieces) beats a+b+a+b (20, 4 pieces)
    val docs = Seq((1L, "abab abab xq")).toDF("doc_id", "text")
    val vocab = Seq(("a", 5L), ("b", 5L), ("ab", 7L)).toDF("piece", "cost_bits")
    assert(rowSet(TextOps.unigramSegment(docs, vocab)) === Set(
      Seq("abab", 2L, true, 14L, 2L),
      // 'x' and 'q' are not in the vocab: no path spells the word
      Seq("xq", 1L, false, null, null)))
    // equal-cost paths: ab+ab = a+b+a+b = 20 bits; the reported value
    // takes the FEWEST pieces among min-cost paths (the 2^20 encoding)
    val tie = Seq(("a", 5L), ("b", 5L), ("ab", 10L)).toDF("piece", "cost_bits")
    assert(rowSet(TextOps.unigramSegment(docs, tie)) === Set(
      Seq("abab", 2L, true, 20L, 2L),
      Seq("xq", 1L, false, null, null)))
  }

  test("unigramSegment: DP is optimal where greedy longest-match is not") {
    // greedy from the left takes "aa" then is stuck with b at 100;
    // the DP pays 2+3 = 5 via a + ab
    val docs = Seq((1L, "aab")).toDF("doc_id", "text")
    val vocab = Seq(("aa", 1L), ("b", 100L), ("a", 2L), ("ab", 3L))
      .toDF("piece", "cost_bits")
    assert(rowSet(TextOps.unigramSegment(docs, vocab)) ===
      Set(Seq("aab", 1L, true, 5L, 2L)))
    // maxPieceChars caps candidate pieces exactly like wordpieceSegment
    val long = Seq(("aab", 0L), ("a", 1L), ("b", 1L)).toDF("piece", "cost_bits")
    assert(rowSet(TextOps.unigramSegment(docs, long, maxPieceChars = 2)) ===
      Set(Seq("aab", 1L, true, 3L, 3L)))
    // the shuffled vocab join is row-identical
    assert(shuffled(rowSet(TextOps.unigramSegment(docs, vocab)))
      === rowSet(TextOps.unigramSegment(docs, vocab)))
  }

  test("unigramSegment: all-chars vocab at cost c prices every word len·c") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val chars = docs
      .select(explode(TextOps.tokens(col("text"))).as("word"))
      .select(explode(expr("filter(split(word, ''), x -> x != '')")).as("piece"))
      .distinct().withColumn("cost_bits", lit(3L))
    val out = TextOps.unigramSegment(docs, chars).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val word = r.getString(0)
      assert(r.getBoolean(2), s"'$word' should segment under the full char vocab")
      // single chars only: cost = 3·len is an upper bound the DP can
      // only meet (no multi-char pieces exist), pieces = len
      assert(r.getLong(3) === 3L * word.length, s"cost for '$word'")
      assert(r.getLong(4) === word.length.toLong, s"pieces for '$word'")
    }
  }

  test("packByCount delegates packSequences; tokenize→pack covers every subword") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    // the whitespace form is exactly packByCount over whitespace counts
    assert(rowSet(TextOps.packSequences(docs, 64, 4)) ===
      rowSet(TextOps.packByCount(
        docs.select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tok")), 64, 4)))
    // composed pipeline conservation: packed subwords = counted subwords
    val seg = TextOps.bpeSegment(docs, TextOps.bpeMerges(docs, steps = 3))
    val perDoc = docs
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("word"))
      .join(seg.select(col("word"), col("n_pieces")), Seq("word"))
      .groupBy(col("doc_id")).agg(sum(col("n_pieces")).as("n_tok"))
    val packed = TextOps.packByCount(perDoc, 128, 4)
    val total = perDoc.agg(sum(col("n_tok"))).head().getLong(0)
    assert(total > 0)
    assert(packed.agg(sum(col("toks_in_seq"))).head().getLong(0) === total)
    // subword totals exceed whitespace totals (3 merges can't collapse
    // every word to one piece) — the join attached real piece counts
    val ws = docs.select(sum(size(TextOps.tokens(col("text"))))).head().getLong(0)
    assert(total > ws)
  }

  test("compressionRatio: degenerate run low, distinct text high, short-doc convention") {
    val docs = Seq(
      (1L, "a" * 100),                    // all windows identical
      (2L, "abcd"),                       // one window
      (3L, "abc"),                        // shorter than the window
      (4L, ""),                           // empty
      (5L, "the cat the cat the cat"),    // repeated phrase
      (6L, "abcdefgh")                    // fully distinct stream
    ).toDF("doc_id", "text")
    assert(rowSet(TextOps.compressionRatio(docs)) === Set(
      Seq(1L, 97L, 1L, 10L),      // aaaa... -> ratio ~0 (1000/97)
      Seq(2L, 1L, 1L, 1000L),
      Seq(3L, 0L, 0L, 1000L),     // no stream -> incompressible pin
      Seq(4L, 0L, 0L, 1000L),
      Seq(5L, 20L, 8L, 400L),     // 8 distinct 4-grams over 20 windows
      Seq(6L, 5L, 5L, 1000L)))
    // natural prose sits high (the screen separates it from runs)
    val prose = Seq((1L, "The quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    assert(TextOps.compressionRatio(prose).head().getLong(3) >= 900L)
  }

  test("htmlStrip: tags, entities, boilerplate lines, unclosed blocks, clean text") {
    val docs = Seq(
      // script block drops whole; nav line fails the punct-ratio rule
      (1L, "<html><script>var x = 1 < 2;</script><p>one two three four five</p>" +
        "<div>Home | About | Contact</div></html>"),
      // entity decode with &amp; LAST: &amp;amp; -> &amp; (no double
      // decode), decoded <tag> stays (tag strip already ran)
      (2L, "He said &quot;a&nbsp;b&quot; &amp;amp; can&#39;t &lt;tag&gt; done here"),
      // clean multi-line: short middle line dropped, rest untouched
      (3L, "one two three four\nx y\nfive six seven eight nine"),
      // unclosed script block: only the opening tag strips
      (4L, "<script>junk forever and ever more")
    ).toDF("doc_id", "text")
    val out = TextOps.htmlStrip(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) === (("one two three four five", 3L, 1L)))
    assert(out(2L) ===
      (("He said \"a b\" &amp; can't <tag> done here", 1L, 1L)))
    assert(out(3L) ===
      (("one two three four\nfive six seven eight nine", 3L, 2L)))
    assert(out(4L) === (("junk forever and ever more", 1L, 1L)))
    // a style block with markup inside it drops whole
    val style = Seq((9L, "<style>.a { color: red } </style>real words appear here"))
      .toDF("doc_id", "text")
    assert(TextOps.htmlStrip(style).head().getString(1) === "real words appear here")
    // Unicode punct rule: non-Latin prose is NOT pure punctuation —
    // Cyrillic, Greek, CJK lines all pass the 3·n_punct <= n_tok rule
    // (an ASCII-only class would drop every one of these lines)
    val nonLatin = Seq(
      (10L, "старый пруд лягушка прыгает тихо"),
      (11L, "η γρήγορη καφέ αλεπού πηδά"),
      (12L, "古池 蛙 飛び込む 水の音"),
      // a genuinely-punctuation nav line still fails
      (13L, "| · | · | · | · |")).toDF("doc_id", "text")
    val nl = TextOps.htmlStrip(nonLatin).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(nl(10L) === 1L && nl(11L) === 1L && nl(12L) === 1L)
    assert(nl(13L) === 0L)
    // \b-anchored break tags: <brand>/</pre> are ordinary tags (one
    // space, one line), <br> still breaks
    val anchored = Seq(
      (14L, "alpha beta <brand x=1>gamma delta</pre> epsilon zeta eta"),
      (15L, "one two three four<br>five six seven eight")).toDF("doc_id", "text")
    val an = TextOps.htmlStrip(anchored).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(an(14L) === (("alpha beta  gamma delta  epsilon zeta eta", 1L)))
    assert(an(15L) === (("one two three four\nfive six seven eight", 2L)))
  }

  test("trigramLmScore: hand-computed bits at all three backoff levels") {
    // portable hashes (h=7; h=h*31+ascii mod 1e9+7; %1000):
    //   "a b c a b c d" -> 485 (train), "a b x a b c" -> 523+? -> TEST
    // Train counts (from the train doc's 5 trigram instances):
    //   c3: abc:2 bca:1 cab:1 bcd:1; p3: ab:2 bc:2 ca:1
    //   c2 (b23): bc:2 ca:1 ab:1 cd:1; p2 (w2): b:2 c:2 a:1
    //   cu (w3): c:2 a:1 b:1 d:1 -> T=5 V=4 -> ilog2(9)=3
    // Train doc bits: abc,abc -> 1-1=0 each; bca -> 1-0=1;
    //   cab -> 0-0=0; bcd -> 1-0=1  => total 2, mean 400 e3
    // Test doc "a b x a b c" (4 instances):
    //   "a b x": unseen tri, unseen b23 "b x", OOV "x" -> 2+3-0 = 5
    //   "b x a": unseen tri, unseen b23 "x a", cw(a)=1 -> 2+3-1 = 4
    //   "x a b": unseen tri, SEEN b23 "a b" -> 1 + lp2(a)=0 - l2=0 = 1
    //   "a b c": seen tri -> lp3(ab)=1 - l3=1 = 0
    //   => total 10, mean 2500 e3, 3 backoff instances
    val docs = Seq(
      (1L, "a b c a b c d"),
      (2L, "a b x a b c"),
      (3L, "q q")
    ).toDF("doc_id", "text")
    val out = TextOps.trigramLmScore(docs, maxBitsE3 = 1000,
      hash = graft.functions.Hashing.Portable).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))).toMap
    assert(out(1L) === ((5L, 0L, 2L, 400L, true)))
    assert(out(2L) === ((4L, 3L, 10L, 2500L, false)))
    // < 3 tokens: no signal, keep = false
    assert(out(3L) === ((0L, 0L, 0L, 0L, false)))
  }

  test("urlParts: scheme/host/port/reg-domain/path/params hand pins") {
    val urls = Seq(
      // userinfo + uppercase host + port + multi-label suffix
      (1L, "http://u:p@Blog.Example.co.uk:8080/post?id=7&utm_campaign=x&ref=tw"),
      // default https port strips; kept params keep ORIGINAL order
      (2L, "https://example.com:443/x?b=2&a=1&gclid=z"),
      // punycode passes through verbatim; no query
      (3L, "https://xn--bcher-kva.example/katalog"),
      // fragment drops; com.au multi-label suffix; UTM case-insensitive
      (4L, "https://sub.shop.example.com.au/cart?item=9&UTM_medium=cpc#frag"),
      // bracketed IPv6 host with port
      (5L, "http://[2001:db8::1]:8080/p"),
      // not a URL
      (6L, "just some text"),
      // bare host, no path/query; single-label host
      (7L, "https://localhost")
    ).toDF("doc_id", "url")
    val out = TextOps.urlParts(urls).collect().map(r =>
      r.getLong(0) -> ((r.getString(1), r.getString(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getString(4),
        r.getString(5), r.getLong(6), r.getLong(7), r.getString(8)))).toMap
    assert(out(1L) === (("http", "blog.example.co.uk", Some(8080L),
      "example.co.uk", "/post", 3L, 2L,
      "http://blog.example.co.uk:8080/post?id=7")))
    assert(out(2L) === (("https", "example.com", Some(443L), "example.com",
      "/x", 3L, 1L, "https://example.com/x?b=2&a=1")))
    assert(out(3L) === (("https", "xn--bcher-kva.example", None,
      "xn--bcher-kva.example", "/katalog", 0L, 0L,
      "https://xn--bcher-kva.example/katalog")))
    assert(out(4L) === (("https", "sub.shop.example.com.au", None,
      "example.com.au", "/cart", 2L, 1L,
      "https://sub.shop.example.com.au/cart?item=9")))
    assert(out(5L) === (("http", "[2001:db8::1]", Some(8080L),
      "[2001:db8::1]", "/p", 0L, 0L, "http://[2001:db8::1]:8080/p")))
    assert(out(6L) === (("", "", None, "", "", 0L, 0L, "")))
    assert(out(7L) === (("https", "localhost", None, "localhost", "", 0L, 0L,
      "https://localhost")))
  }

  test("urlParts snapshot PSL: file loads strictly; com.hk/co.id class keying") {
    // the checked-in snapshot loads, is strictly two-label lowercase,
    // and supersets the 26-entry documented fallback
    val snap = TextOps.SnapshotMultiLabelSuffixes
    assert(snap.size > 300)
    assert(snap.forall(_.matches("[a-z0-9-]+\\.[a-z0-9-]+")))
    assert(TextOps.DefaultMultiLabelSuffixes.toSet.subsetOf(snap.toSet))
    // the exact ccTLD classes the r15 verdict flagged as mis-keyed
    // under the 26-entry subset
    Seq("com.hk", "co.id", "com.tw", "co.th", "gob.mx", "github.io")
      .foreach(s => assert(snap.contains(s), s"snapshot missing $s"))
    val urls = Seq(
      (1L, "https://shop.brandmall.com.hk/item/1?sku=1"),
      (2L, "http://berita.portalweb.co.id/read/2"),
      (3L, "https://alice.github.io/blog"),
      (4L, "https://news.site.com.tw/a"),
      (5L, "http://shop.store.co.th/b")).toDF("doc_id", "url")
    val rd = TextOps.urlParts(urls).collect()
      .map(r => r.getLong(0) -> r.getString(4)).toMap
    // one quota bucket per REGISTRANT, not per host label pair
    assert(rd(1L) === "brandmall.com.hk")
    assert(rd(2L) === "portalweb.co.id")
    assert(rd(3L) === "alice.github.io")
    assert(rd(4L) === "site.com.tw")
    assert(rd(5L) === "store.co.th")
    // the documented fallback subset would have mis-keyed these to the
    // bare suffix pair (the exact defect the snapshot closes)
    val rdOld = TextOps.urlParts(urls,
        multiLabelSuffixes = TextOps.DefaultMultiLabelSuffixes).collect()
      .map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(rdOld(1L) === "com.hk" && rdOld(2L) === "co.id")
  }

  test("zipfSlope: hand regression, flat-corpus zero, degenerate NULL") {
    // freqs 8,4,2,1 -> ranks 1..4: x = ilog2(rank) = (0,1,1,2),
    // y = ilog2(freq) = (3,2,1,0); n=4, Σx=4, Σy=6, Σxy=3, Σxx=6 ->
    // slope = (4·3 − 4·6)/(4·6 − 16) = −12/8 = −1.5
    val docs = Seq((1L, "a a a a a a a a b b b b c c d")).toDF("doc_id", "text")
    assert(rowSet(TextOps.zipfSlope(docs)) ===
      Set(Seq(4L, 4L, 6L, -1500000L)))
    // equal frequencies: y constant -> numerator 0 -> exactly flat
    // (and rank-tiebreak-independent: the x multiset is fixed)
    val flat = Seq((1L, "a b c d")).toDF("doc_id", "text")
    assert(rowSet(TextOps.zipfSlope(flat)) === Set(Seq(4L, 4L, 0L, 0L)))
    // single-type vocabulary: zero x-variance -> NULL slope
    val one = Seq((1L, "a a a")).toDF("doc_id", "text")
    assert(rowSet(TextOps.zipfSlope(one)) === Set(Seq(1L, 0L, 1L, null)))
  }

  test("zipfSlope: closed-form rank sums ≡ naive global-window regression") {
    // frequencies 1..40 spread distinct freqs across six ilog2 buckets
    // with several distinct freqs per bucket — exercises both prefix
    // phases (cross-bucket join + within-bucket running sum)
    val text = (1 to 40).map(i => ("w" + i + " ") * i).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    def ilog2(c: org.apache.spark.sql.Column) =
      (length(bin(c)) - 1).cast("long")
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("freq").desc, col("h").asc)
    val naive = docs
      .select(explode(graft.functions.NativeOps.shingleHashes(
        col("text"), 1, graft.functions.Hashing.Fast.portable)).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("freq"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(ilog2(col("rank")).as("x"), ilog2(col("freq")).as("y"))
      .agg(count(lit(1)).as("n_vocab"), sum(col("x")).as("sum_x"),
        sum(col("y")).as("sum_y"), sum(col("x") * col("y")).as("sum_xy"),
        sum(col("x") * col("x")).as("sum_xx"))
      .select(col("n_vocab"), col("sum_x"), col("sum_y"),
        when(dec(col("n_vocab")) * dec(col("sum_xx")) -
            dec(col("sum_x")) * dec(col("sum_x")) =!= 0,
          floor((dec(col("n_vocab")) * dec(col("sum_xy")) -
            dec(col("sum_x")) * dec(col("sum_y"))).cast("double") * lit(1e6) /
            (dec(col("n_vocab")) * dec(col("sum_xx")) -
              dec(col("sum_x")) * dec(col("sum_x"))).cast("double"))
            .cast("long")).as("slope_e6"))
    assert(rowSet(TextOps.zipfSlope(docs)) === rowSet(naive))
    // and on real corpus text (hash ties, freq gaps, multi-doc)
    val real = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001").limit(120)
    assert(rowSet(TextOps.zipfSlope(real)) === rowSet(
      real.select(explode(graft.functions.NativeOps.shingleHashes(
          col("text"), 1, graft.functions.Hashing.Fast.portable)).as("h"))
        .groupBy(col("h")).agg(count(lit(1)).as("freq"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .select(ilog2(col("rank")).as("x"), ilog2(col("freq")).as("y"))
        .agg(count(lit(1)).as("n_vocab"), sum(col("x")).as("sum_x"),
          sum(col("y")).as("sum_y"), sum(col("x") * col("y")).as("sum_xy"),
          sum(col("x") * col("x")).as("sum_xx"))
        .select(col("n_vocab"), col("sum_x"), col("sum_y"),
          when(dec(col("n_vocab")) * dec(col("sum_xx")) -
              dec(col("sum_x")) * dec(col("sum_x")) =!= 0,
            floor((dec(col("n_vocab")) * dec(col("sum_xy")) -
              dec(col("sum_x")) * dec(col("sum_y"))).cast("double") * lit(1e6) /
              (dec(col("n_vocab")) * dec(col("sum_xx")) -
                dec(col("sum_x")) * dec(col("sum_x"))).cast("double"))
              .cast("long")).as("slope_e6"))))
  }

  test("vocabGrowth: hand curve; two-phase prefix ≡ naive at every bucketSize") {
    val docs = Seq(
      (0L, "A", "a b a"),   // toks 3, new {a,b}=2
      (2L, "A", "b c"),     // toks 2, new {c}=1
      (4L, "A", "c c c"),   // toks 3, new 0
      (1L, "B", "z")        // toks 1, new 1
    ).toDF("doc_id", "source", "text")
    val expected = Set(
      Seq("A", 0L, 3L, 2L, 3L, 2L),
      Seq("A", 2L, 2L, 1L, 5L, 3L),
      Seq("A", 4L, 3L, 0L, 8L, 3L),
      Seq("B", 1L, 1L, 1L, 1L, 1L))
    assert(rowSet(TextOps.vocabGrowth(docs, bucketSize = 1024)) === expected)
    // bucket boundaries must be invisible in the result: bucketSize 1
    // (every doc its own bucket) and 3 (split mid-source) agree
    assert(rowSet(TextOps.vocabGrowth(docs, bucketSize = 1)) === expected)
    assert(rowSet(TextOps.vocabGrowth(docs, bucketSize = 3)) === expected)
  }

  test("unigramTrain: hand-traced EM epoch on a toy corpus") {
    // corpus "ab ab abab cd": seed = chars {a,b,c,d} + "ab" (the only
    // multi-char substring in >= 2 distinct words). All seed costs tie
    // at 2 bits, so Viterbi picks the fewest-pieces path: "ab" covers
    // word 'ab' (n=2) once and 'abab' (n=1) twice -> cnt 4; chars a/b
    // fall off every optimal path (0), c/d carry 'cd' (1 each)
    val docs = Seq((1L, "ab ab"), (2L, "abab cd")).toDF("doc_id", "text")
    val v = TextOps.unigramTrain(docs, vocabSize = 3, epochs = 1)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(v.keySet === Set("ab", "a", "b", "c", "d"))
    assert(v("ab")._1 === 4L)
    assert(v("c")._1 === 1L && v("d")._1 === 1L)
    assert(v("a")._1 === 0L && v("b")._1 === 0L)
    // M-step prices: tot=6 -> ab: ilog2(7)-ilog2(5)=0; c/d: 2-1=1; a/b: 2
    assert(v("ab")._2 === 0L)
    assert(v("c")._2 === 1L && v("d")._2 === 1L)
    assert(v("a")._2 === 2L && v("b")._2 === 2L)
  }

  test("unigramTrain: coverage law — trained vocab segments every corpus word; two epochs stay covered") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val vocab = TextOps.unigramTrain(docs, vocabSize = 48, epochs = 2)
      .select(col("piece"), col("cost_bits"))
    val seg = TextOps.unigramSegment(docs, vocab)
    assert(seg.count() > 0)
    assert(seg.filter(!col("ok")).count() === 0L,
      "trained vocab left a word unsegmentable — the char-coverage guarantee broke")
    // pruning actually bites: multi-char pieces are capped at vocabSize
    val multi = vocab.filter(length(col("piece")) > 1).count()
    assert(multi <= 48L)
  }

  test("trigramLmTrain + trigramLmScoreWith equals the monolithic screen; frozen reload identical") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val mono = TextOps.trigramLmScore(docs, maxBitsE3 = 3600,
      hash = graft.functions.Hashing.Portable)
    // the caller-side slice reproduces the monolith's train split
    val slice = docs.filter(
      pmod(graft.functions.Hashing.Portable(col("text")), lit(1000L)) < 900)
    val model = TextOps.trigramLmTrain(slice,
      hash = graft.functions.Hashing.Portable)
    val split = TextOps.trigramLmScoreWith(docs, model, maxBitsE3 = 3600)
    assert(rowSet(split) === rowSet(mono))
    // freeze/reload: scoring against the parquet round-trip is
    // row-identical (the deployment shape)
    val dir = java.nio.file.Files.createTempDirectory("graft_lm_model").toString
    val frozen = model.materialized(dir)
    assert(rowSet(TextOps.trigramLmScoreWith(docs, frozen, maxBitsE3 = 3600)) ===
      rowSet(mono))
  }

  test("gopherRules: every rule hand-pinned; composite keep") {
    val good = ("the cat and dog have fun with that red ball of yarn " +
      "they be running to the park and that was good fun for all of them ") * 3
    val docs = Seq(
      (1L, good),                                   // passes everything
      (2L, "tiny doc"),                             // fails token bound
      (3L, ("# " * 30) + good),                     // symbol ratio blows
      (4L, (1 to 10).map(i => s"- bullet item $i with the and of that be have with to words repeated enough here").mkString("\n")), // 100% bullet lines
      (5L, good.replace(" ", " … \n... \n"))        // ellipsis storm
    ).toDF("doc_id", "text")
    val out = TextOps.gopherRules(docs)
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 1: sane ratios, >= 2 gopher stops, keep
    assert(out(1L).getAs[Boolean]("keep"))
    assert(out(1L).getAs[Long]("n_gopher_stops") >= 2L)
    assert(out(1L).getAs[Long]("alpha_word_e3") === 1000L)
    assert(out(1L).getAs[Long]("bullet_lines_e3") === 0L)
    // doc 2: 2 tokens — token bound fails, ratios still defined
    assert(!out(2L).getAs[Boolean]("keep"))
    assert(out(2L).getAs[Long]("n_tokens") === 2L)
    // doc 3: 30 hashes over ~30+n words -> symbol ratio > 100 e3
    assert(!out(3L).getAs[Boolean]("keep"))
    assert(out(3L).getAs[Long]("symbol_ratio_e3") > 100L)
    // doc 4: every line is a bullet -> 1000 e3 > the 900 cap
    assert(!out(4L).getAs[Boolean]("keep"))
    assert(out(4L).getAs[Long]("bullet_lines_e3") === 1000L)
    // doc 5: most lines end with ellipsis
    assert(!out(5L).getAs[Boolean]("keep"))
    assert(out(5L).getAs[Long]("ellipsis_lines_e3") > 300L)
    // empty and NULL text both pin to the zero row (size(null) = -1
    // would otherwise leak a nonsense n_tokens — the r16 review edge)
    val degenerate = TextOps.gopherRules(
      Seq((9L, ""), (10L, null: String)).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r).toMap
    for (id <- Seq(9L, 10L)) {
      assert(degenerate(id).getAs[Long]("n_tokens") === 0L, s"doc $id")
      assert(!degenerate(id).getAs[Boolean]("keep"), s"doc $id")
    }
  }

  test("pplBuckets: differential vs the tercile definition on trigramLmScore; no-signal docs pin to tail") {
    // spread corpus: repeated common phrases (low bits), rarer tails
    // (higher bits), plus a < 3-token doc (no signal)
    val docs = ((0L until 30L).map { i =>
      val body =
        if (i % 3 == 0) "the cat sat on the mat " * 3
        else if (i % 3 == 1) s"the cat sat on chair$i near mat$i end$i"
        else s"zebra$i quark$i flux$i vortex$i prism$i"
      (i, body.trim)
    } :+ (99L, "too short")).toDF("doc_id", "text")
    val scored = TextOps.trigramLmScore(docs)
      .select("doc_id", "n_trigrams", "bits_per_trigram_e3")
      .as[(Long, Long, Long)].collect()
    // reference thresholds straight from the definition
    val sig = scored.filter(_._2 > 0).map(_._3).sorted
    val n = sig.length.toLong
    val cum = sig.distinct.map(s => s -> sig.count(_ <= s).toLong)
    val t1 = cum.collectFirst { case (s, c) if c * 3 >= n => s }.get
    val t2 = cum.collectFirst { case (s, c) if c * 3 >= 2 * n => s }.get
    val expected = scored.map { case (id, nt, s) =>
      id -> (if (nt == 0) "tail"
             else if (s <= t1) "head"
             else if (s <= t2) "middle" else "tail")
    }.toMap
    val got = TextOps.pplBuckets(docs)
      .select("doc_id", "bucket").as[(Long, String)].collect().toMap
    assert(got === expected)
    assert(got(99L) === "tail")
    // the spread corpus must actually exercise all three buckets
    assert(got.values.toSet === Set("head", "middle", "tail"))
    // equal scores never split across buckets
    val byScore = scored.filter(_._2 > 0).groupBy(_._3)
    for ((_, rows) <- byScore)
      assert(rows.map(r => got(r._1)).toSet.size === 1)
  }

  test("hardNegatives: same-label pool docs drop, self excluded, rank recomputed") {
    val docs = Seq(
      (0L, "alpha beta gamma", "A"),
      (1L, "alpha beta gamma delta", "A"),       // weak positive: same label
      (2L, "alpha beta other words", "B"),
      (3L, "gamma only here", "B"),
      (4L, "totally unrelated text", "B"),       // shares no query term
      (5L, "alpha alpha beta gamma", "A")
    ).toDF("doc_id", "text", "source")
    val out = TextOps.hardNegatives(docs, col("doc_id") === 0,
      poolK = 10, k = 3)
      .as[(Long, Long, Long, Long)].collect()
    val ids = out.map(_._2).toSet
    assert(!ids.contains(0L), "self survived")
    assert(!ids.contains(1L) && !ids.contains(5L), "same-label positive survived")
    assert(ids === Set(2L, 3L))
    // ranks contiguous from 1 AFTER the filter (no holes from dropped rows)
    assert(out.sortBy(_._4).map(_._4).toSeq === (1L to out.length))
    // score order respected
    assert(out.sortBy(_._4).map(_._3).sliding(2).forall {
      case Array(a, b) => a >= b; case _ => true })
  }

  test("gopherRepetition: hand fractions, overlap-deduped dup coverage, thresholds") {
    val docs = Seq(
      // dup 5-gram doc: "one two three four five" repeats at pos 0 and 6
      (1L, "one two three four five six one two three four five"),
      // degenerate self-overlap: top-2 count*chars EXCEEDS the base
      (2L, "ab ab ab ab"),
      (3L, ""),
      (4L, null: String),
      // one token repeated k = 12 times: every window of every n is
      // one hash group
      (5L, Seq.fill(12)("ab").mkString(" "))
    ).toDF("doc_id", "text")
    val out = TextOps.gopherRepetition(docs)
      .as[(Long, Long, Long, Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    // doc 1: char_base 41; top2 = 2*9 ("three four") -> 439;
    // top3 = 2*13 -> 634; top4 = 2*16 -> 780;
    // dup5 covers every token but "six" (38 chars, overlap-deduped,
    // positions counted once) -> 926; no dup 10-gram -> 0
    val d1 = out(1L)
    assert(d1._2 === 11L)
    assert(d1._3 === 439L && d1._4 === 634L && d1._5 === 780L)
    assert(d1._6 === 926L && d1._7 === 0L)
    assert(!d1._8)
    // doc 2: base 8; "ab ab" occurs 3x overlapping, clen 4 -> cov 12
    // -> 1500 (the paper's per-occurrence accounting, > 1000)
    assert(out(2L)._3 === 1500L)
    assert(out(2L)._6 === 0L, "4 tokens have no 5-gram")
    // doc 5: base 24; top-n = (13-n)*2n chars -> 44, 60, 72; both dup
    // grams repeat and cover every token -> 1000
    val d5 = out(5L)
    assert(d5._2 === 12L)
    assert(d5._3 === 1833L && d5._4 === 2500L && d5._5 === 3000L)
    assert(d5._6 === 1000L && d5._7 === 1000L)
    assert(!d5._8)
    // empty/null docs: all-zero signals (no repetition to flag)
    for (id <- Seq(3L, 4L)) {
      val d = out(id)
      assert(d._2 === 0L && d._3 === 0L && d._6 === 0L && d._8)
    }
  }

  test("c4Rules: per-rule line scrub and doc gates") {
    val docs = Seq(
      // all three lines survive -> keep
      (0L, "This is a good clean sentence right here.\n" +
        "Another fine long sentence follows right after!\n" +
        "And a third one to pass the sentence gate?"),
      // first line lacks terminal punct -> only 2 sentences -> drop
      (1L, "no terminal punctuation on this line at all\n" +
        "Good long sentence that ends properly here.\n" +
        "Second good long sentence that also ends."),
      // <5-word line dropped, three good lines survive -> keep
      (2L, "Too few words.\n" +
        "This one has plenty of words and ends well.\n" +
        "So does this other one with many words too.\n" +
        "And a third long enough sentence to pass!"),
      // javascript boilerplate line dropped regardless of its shape
      (3L, "Please enable JavaScript to view this page properly.\n" +
        "Real content sentence with enough words here.\n" +
        "More real content also phrased long enough here.\n" +
        "A third real sentence keeps the document alive."),
      // lorem-ipsum page gate: lines survive, doc does not
      (4L, "Lorem ipsum dolor sit amet consectetur adipiscing elit.\n" +
        "Second fine sentence with plenty of words here.\n" +
        "Third fine sentence with plenty of words too."),
      // brace page gate
      (5L, "Code sample { return x; } appears on this page.\n" +
        "Second fine sentence with plenty of words here.\n" +
        "Third fine sentence with plenty of words too.\n" +
        "Fourth fine sentence with plenty of words also."),
      // null text pins to the empty-doc row
      (6L, null: String)
    ).toDF("doc_id", "text")
    val out = TextOps.c4Rules(docs)
      .as[(Long, String, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(0L)._6 && out(0L)._4 === 3L && out(0L)._5 === 3L)
    assert(!out(1L)._6 && out(1L)._4 === 2L && out(1L)._5 === 2L)
    assert(out(2L)._6 && out(2L)._3 === 4L && out(2L)._4 === 3L)
    assert(out(3L)._6 && out(3L)._4 === 3L)
    assert(!out(3L)._2.toLowerCase.contains("javascript"))
    assert(!out(4L)._6 && out(4L)._4 === 3L) // lines fine, page gated
    assert(!out(5L)._6)
    // the brace rule is a PAGE gate, not a line rule: the brace line
    // itself ends in terminal punctuation and survives the line scrub
    assert(out(5L)._4 === 4L && out(5L)._3 === 4L)
    assert(out(6L) === ((6L, "", 0L, 0L, 0L, false)))
    // retained text is the kept lines re-joined in order
    assert(out(2L)._2.split("\n").length === 3)
    assert(!out(2L)._2.contains("Too few words"))
    // internal punctuation counts toward n_sentences
    val multi = TextOps.c4Rules(Seq(
      (0L, "Dr. Smith said yes to the new plan today.\n" +
        "What? No! That cannot be true at all times.\n" +
        "Calm long sentence to close the document out."))
      .toDF("doc_id", "text"))
      .select("n_sentences").as[Long].head()
    assert(multi === 2L + 3L + 1L)
  }

  test("c4Rules: CRLF lines fail the terminal-punct anchor (\\z, not $)") {
    // Java regex `$` matches BEFORE a trailing \r, RE2's does not —
    // with `$` Spark kept these lines while the DuckDB oracle dropped
    // them (r16 ADVICE). `\z` drops them in both engines: the pinned
    // contract is "normalize line endings upstream".
    val crlf = TextOps.c4Rules(Seq(
      (0L, "This line ends with punct and a CR here.\r\n" +
        "So does this second long enough line too!\r\n" +
        "And the third one closes it out properly?\r"))
      .toDF("doc_id", "text"))
      .select("n_lines", "n_lines_kept", "keep")
      .as[(Long, Long, Boolean)].head()
    assert(crlf === ((3L, 0L, false)))
  }
}
