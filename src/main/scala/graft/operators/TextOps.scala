package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Hashing

/** Text-analysis operators for LLM training-data pipelines: token
  * counting, quality scoring, language ID, document fingerprinting.
  *
  * Design rules for 100 TB: every op is a narrow projection (no
  * shuffle), built from codegen'd `functions._` expressions — no UDFs.
  * Integer outputs throughout (ratios are scaled by 1000 and floored)
  * so results are exact and engine-portable.
  */
object TextOps {

  /** [[CacheSlot]] for the corpus-sized LM instance frame cached by
    * the most recent [[bigramLmScore]] / [[trigramLmScore]] call (one
    * cached corpus-sized frame PER scoring call otherwise).
    */
  private val lmSlot = new CacheSlot

  /** [[CacheSlot]] for [[bm25MultiQuery]]'s vocabulary-restricted
    * index frame — its OWN slot, not [[lmSlot]]: sharing the LM
    * family's slot meant constructing any bigram/trigram LM score
    * before the returned retrieval frame executed silently evicted the
    * index (double corpus scan back), and vice versa (r18 ADVICE).
    */
  private val bm25Slot = new CacheSlot

  /** Free the instance frame cached by the most recent LM scoring
    * call. Harness loops scoring many corpora in one session should
    * call this after consuming each result.
    */
  def releaseLmCache(): Unit = lmSlot.release()

  /** Free the index frame cached by the most recent [[bm25MultiQuery]]
    * call (same discipline as [[releaseLmCache]]).
    */
  def releaseBm25Cache(): Unit = bm25Slot.release()

  /** Whitespace tokens as an array column. */
  def tokens(text: Column): Column = regexp_extract_all(text, lit("\\S+"), lit(0))

  /** BPE-ish subword pretokenization: letter runs, digit runs, single
    * punctuation — the standard byte-pair pre-split shape.
    */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))

  /** Token counts per document (whitespace + BPE-ish). */
  def tokenCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(
      col("doc_id"),
      size(tokens(col(textCol))).cast("long").as("n_ws_tokens"),
      size(bpeTokens(col(textCol))).cast("long").as("n_bpe_tokens"),
      length(col(textCol)).cast("long").as("n_chars_m"))

  /** PII scrubbing patterns, applied in order (email before phone so
    * the local-part's digits can't half-match as a phone number; IP
    * before phone so dotted quads don't). Patterns are written in the
    * regex subset Java (Spark codegen) and RE2 (DuckDB, Go tooling)
    * interpret identically — character classes and bounded repetition
    * only, no lookaround, no backreferences — so the scrub is
    * engine-portable and oracle-checkable.
    */
  private[graft] val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "([0-9]{1,3}\\.){3}[0-9]{1,3}" -> "<IP>",
    "\\+?[0-9][0-9()\\- ]{6,}[0-9]" -> "<PHONE>")

  /** Redact common PII shapes (emails, IPv4 addresses, phone-like
    * digit runs) from `textCol`, appending `<textCol>_redacted` and an
    * exact count of redactions made. A narrow codegen'd projection —
    * the 100 TB shape for corpus scrubbing is "one pass, no shuffle",
    * and this is that pass.
    */
  def redactPii(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val red = PiiPatterns.foldLeft(col(textCol)) {
      case (c, (pat, repl)) => regexp_replace(c, pat, repl)
    }
    docs
      .withColumn(s"${textCol}_redacted", red)
      // redaction count: tokens added minus tokens that were already
      // there — cheaper proxy: count the sentinel markers in the output
      .withColumn("n_redactions",
        (size(regexp_extract_all(col(s"${textCol}_redacted"),
          lit("<EMAIL>|<IP>|<PHONE>"), lit(0)))).cast("long"))
  }

  // private[graft]: ScaleSmoke's replica-renaming invariant (identical
  // quality-gate decisions per replica) must rename every NON-stopword
  // token — it references this list rather than carrying a copy that
  // could drift
  private[graft] val Stopwords = Seq("the", "a", "an", "of", "and", "to", "in", "is", "it", "on")

  /** Quality heuristics: token count, mean token length (×1000),
    * stopword ratio (×1000), alpha-char ratio (×1000), and a boolean
    * `keep` flag combining the usual pretraining filters
    * (length bounds + stopword floor).
    */
  def qualityScore(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = tokens(col(textCol))
    val nTok = size(toks).cast("long")
    val nChar = length(col(textCol)).cast("long")
    val stopHits = size(filter(toks, t => t.isInCollection(Stopwords))).cast("long")
    val alpha = length(regexp_replace(col(textCol), "[^A-Za-z]", "")).cast("long")
    docs.select(
      col("doc_id"),
      nTok.as("n_tokens"),
      floor(nChar * 1000 / nTok).cast("long").as("mean_tok_len_e3"),
      floor(stopHits * 1000 / nTok).cast("long").as("stop_ratio_e3"),
      floor(alpha * 1000 / nChar).cast("long").as("alpha_ratio_e3"),
      (nTok >= 5 && nTok <= 100000 && stopHits * 1000 >= nTok * 10).as("keep"))
  }

  /** Gopher's "contains 2 of ..." stop-word set (Rae et al. 2021,
    * Appendix A1.1) — distinct from the quality-ratio [[Stopwords]].
    */
  val GopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The Gopher quality-rule bundle (Rae et al. 2021, Appendix A —
    * the canonical rule-based document filter, reused by RefinedWeb,
    * Dolma, FineWeb): every rule as its own integer-exact signal plus
    * the composite `keep`, so downstream curation can re-weight or
    * ablate single rules without re-scanning. Per document:
    *
    *  - `n_tokens` ∈ [minTokens, maxTokens] (default 50..100,000);
    *  - mean WORD length ∈ [3, 10] chars (word chars only — unlike
    *    [[qualityScore]]'s whole-text `mean_tok_len`, whitespace does
    *    not dilute the mean);
    *  - symbol-to-word ratio ≤ 0.1 for `#` and `...`/`…` hits;
    *  - ≤ 90% of non-empty lines start with a bullet (`•`/`-`/`*`);
    *  - ≤ 30% of non-empty lines end with an ellipsis;
    *  - ≥ 80% of words contain at least one alphabetic character;
    *  - ≥ 2 DISTINCT [[GopherStops]] words present.
    *
    * All ratios are `floor(x·1000/y)` e3 fixed-point (engine-exact);
    * empty/short docs pin ratios to 0 and fail the token bound. One
    * narrow codegen projection — tokens/lines are in-row HOFs, no
    * explode, no shuffle, no UDF: the 100 TB cost is the scan.
    *
    * Output: `(doc_id, n_tokens, mean_word_len_e3, symbol_ratio_e3,
    * bullet_lines_e3, ellipsis_lines_e3, alpha_word_e3,
    * n_gopher_stops, keep)`.
    */
  def gopherRules(
      docs: DataFrame,
      minTokens: Long = 50,
      maxTokens: Long = 100000,
      textCol: String = "text"): DataFrame = {
    // null text pins to the empty-doc row (n_tokens 0, ratios 0, keep
    // false) — Spark's size(null) = −1 would otherwise leak a nonsense
    // signal value and diverge from the oracle's NULL (r16 review)
    val txt = coalesce(col(textCol), lit(""))
    val toks = tokens(txt)
    val nTok = size(toks).cast("long")
    val wordChars = aggregate(
      transform(toks, t => length(t).cast("long")), lit(0L), (a, v) => a + v)
    val nHash = regexp_count(txt, lit("#")).cast("long")
    val nEll = regexp_count(txt, lit("(\\.\\.\\.|…)")).cast("long")
    val lines = filter(
      split(txt, "\n"), l => length(trim(l)) > 0)
    val nLines = size(lines).cast("long")
    val nBullet = size(filter(lines,
      l => trim(l).rlike("^[•\\-\\*]"))).cast("long")
    val nEllLine = size(filter(lines,
      l => trim(l).rlike("(\\.\\.\\.|…)$"))).cast("long")
    val nAlphaWord = size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("long")
    val nStops = size(array_intersect(
      array_distinct(toks), typedLit(GopherStops))).cast("long")
    val e3 = (num: Column, den: Column) =>
      when(den > 0, floor(num * 1000 / den)).otherwise(0L).cast("long")
    val out = docs.select(
      col("doc_id"),
      nTok.as("n_tokens"),
      e3(wordChars, nTok).as("mean_word_len_e3"),
      e3(nHash + nEll, nTok).as("symbol_ratio_e3"),
      e3(nBullet, nLines).as("bullet_lines_e3"),
      e3(nEllLine, nLines).as("ellipsis_lines_e3"),
      e3(nAlphaWord, nTok).as("alpha_word_e3"),
      nStops.as("n_gopher_stops"))
    out.withColumn("keep",
      col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens &&
        col("mean_word_len_e3") >= 3000 && col("mean_word_len_e3") <= 10000 &&
        col("symbol_ratio_e3") <= 100 &&
        col("bullet_lines_e3") <= 900 &&
        col("ellipsis_lines_e3") <= 300 &&
        col("alpha_word_e3") >= 800 &&
        col("n_gopher_stops") >= 2)
  }

  /** The C4 cleaning-rule bundle (Raffel et al. 2020 §2.2 — the
    * Colossal Clean Crawled Corpus filters, the other canonical
    * rule-based web cleaner next to [[gopherRules]]; where Gopher
    * scores the DOCUMENT, C4 scrubs LINES and then gates the doc):
    *
    *  - a line is KEPT only when (all three) it ends in a terminal
    *    punctuation mark (`.` `!` `?` `"`), contains at least
    *    `minWordsPerLine` words (default 5, the paper's value), and
    *    does not mention "javascript" (any case — the paper's warning-
    *    boilerplate rule);
    *  - the document is KEPT only when the retained text still has at
    *    least `minSentences` sentences (terminal-punctuation count;
    *    default 3, the paper's value) and the ORIGINAL text contains
    *    neither "lorem ipsum" (any case) nor a curly brace (the
    *    paper's placeholder-text and code-leak page gates).
    *
    * The paper's remaining rule — the "bad words" blocklist — is a
    * deployment-specific wordlist, not an algorithm; it composes as a
    * [[graft.streaming.DocStreams.blocklistFilter]]-style stage.
    *
    * Word splitting uses the explicit `[ \t]+` class, NOT `\s` —
    * Java's `\s` includes VT where RE2's does not (the byte-BPE
    * pre-tokenizer lesson, PERF_r16 §4), and line content never
    * carries `\n`. Lines are non-empty-trimmed before every rule.
    * Lines split on `\n` ONLY, and the terminal-punct anchor is `\z`
    * (true end-of-input), NOT `$`: Java's `$` matches BEFORE a
    * trailing `\r` line terminator while RE2's matches end-of-text
    * only, so `$` silently KEEPS a CRLF line in Spark that the RE2
    * oracle drops (r16 ADVICE). With `\z` a CRLF corpus keeps its
    * `\r` at line end and fails the anchor identically in both
    * engines (pinned: normalize line endings upstream, e.g. in the
    * extraction stage, as the C4 pipeline itself does).
    *
    * One narrow codegen projection — lines/words are in-row HOFs, no
    * explode, no shuffle, no UDF: the 100 TB cost is the scan (the
    * [[gopherRules]] class).
    *
    * Output: `(doc_id, text, n_lines, n_lines_kept, n_sentences,
    * keep)` — `text` is the retained lines re-joined with `\n` (empty
    * when nothing survives).
    */
  def c4Rules(
      docs: DataFrame,
      minWordsPerLine: Int = 5,
      minSentences: Int = 3,
      textCol: String = "text"): DataFrame = {
    // null text pins to the empty-doc row (the gopherRules convention)
    val txt = coalesce(col(textCol), lit(""))
    val lines = filter(split(txt, "\n"), l => length(trim(l)) > 0)
    val kept = filter(lines, l =>
      trim(l).rlike("[.!?\"]\\z") &&
        size(split(trim(l), "[ \\t]+")) >= minWordsPerLine &&
        !lower(l).contains("javascript"))
    val keptText = array_join(kept, "\n")
    val nSentences = regexp_count(keptText, lit("[.!?]")).cast("long")
    docs.select(
      col("doc_id"),
      keptText.as("text"),
      size(lines).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_lines_kept"),
      nSentences.as("n_sentences"),
      (!lower(txt).contains("lorem ipsum") && !txt.contains("{") &&
        nSentences >= minSentences).as("keep"))
  }

  private val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "is", "and", "of"),
    "es" -> Seq("el", "la", "los", "de", "que"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "les", "des", "une", "est"))

  /** N-gram/marker-word language ID heuristic. CJK codepoints short-cut
    * to `zh`; otherwise argmax of per-language marker-token hits with a
    * fixed priority order on ties (en > es > de > fr) so the output is
    * total-order deterministic.
    */
  def langId(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = tokens(lower(col(textCol)))
    val cnt = Markers.map { case (lang, ws) =>
      lang -> size(filter(toks, t => t.isInCollection(ws))).cast("long")
    }
    val Seq(en, es, de, fr) = cnt.map(_._2)
    docs.select(
      col("doc_id"),
      when(col(textCol).rlike("[\\x{4E00}-\\x{9FFF}]"), "zh")
        .when(en >= es && en >= de && en >= fr, "en")
        .when(es >= de && es >= fr, "es")
        .when(de >= fr, "de")
        .otherwise("fr").as("pred_lang"))
  }

  /** Repetition quality signals (the Gopher-rule family): the
    * within-document redundancy measures that catch boilerplate and
    * degenerate generations, which length/stopword filters miss.
    *
    *  - `dup_token_ratio_e3` — fraction of token instances that are
    *    repeats of an earlier token (`(n − n_distinct)/n`), ×1000.
    *    Pure narrow projection (array_distinct per row, no shuffle).
    *  - `top_bigram_ratio_e3` — fraction of all word bigrams taken by
    *    the single most frequent bigram, ×1000. Bigrams come from the
    *    fused native shingle generator (hashes, not strings); the agg
    *    is (doc, bigram)-grouped then doc-grouped — two shuffles of
    *    8-byte keyed counts, never token text.
    *
    * Docs with no tokens / no bigrams score 0 (nothing repeats).
    */
  def repetitionStats(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      hash: Hashing.HashTier = Hashing.Fast): DataFrame = {
    val toks = tokens(col(textCol))
    val base = docs.select(
      col(idCol).as("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct"))
    val bi = docs.select(
      col(idCol).as("doc_id"),
      explode(graft.functions.NativeOps.shingleHashes(col(textCol), 2, hash.portable)).as("sh"))
      .groupBy(col("doc_id"), col("sh")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("max_c"), sum(col("c")).as("n_bi"))
    base.join(bi, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        col("n_tokens"),
        when(col("n_tokens") > 0,
          floor((col("n_tokens") - col("n_distinct")) * 1000 / col("n_tokens")))
          .otherwise(0L).cast("long").as("dup_token_ratio_e3"),
        when(col("n_bi").isNotNull && col("n_bi") > 0,
          floor(col("max_c") * 1000 / col("n_bi")))
          .otherwise(0L).cast("long").as("top_bigram_ratio_e3"))
  }

  /** The Gopher repetition table, two-endpoint variant (Rae et al.
    * 2021, Table A1 — the signals Dolma/FineWeb reproduce;
    * [[repetitionStats]] covers only the dup-token and top-bigram
    * members). NOT the paper verbatim, two pinned deviations (r16
    * ADVICE): (1) the dup-gram band emits the two `dupNs` endpoints
    * (default 5 and 10) rather than all six of 5..10 — the
    * interpolated `200-10n` thresholds cover any two in-band choices;
    * (2) the top-gram is the most CHARACTER-COVERING gram
    * (max `count·chars`, deterministic and tie-free) rather than the
    * paper's most-FREQUENT gram's coverage, so keep/drop can differ
    * on docs where a rare long gram out-covers a frequent short one.
    * Per document,
    *
    *  - `top{2,3,4}_chars_e3` — the character-coverage fraction of
    *    the single most CHARACTER-COVERING n-gram (max over grams of
    *    `count·gram_chars` — the deterministic, tie-free form of the
    *    paper's "most frequently-occurring n-gram" fraction);
    *  - `dup{5,10}_chars_e3` — the fraction of word characters lying
    *    inside ANY duplicated n-gram (count ≥ 2 within the doc),
    *    positions counted ONCE under overlap (the paper's "taking
    *    care not to count characters in overlapping n-grams more than
    *    once"), for the endpoint `dupNs` of the paper's 5..10 band;
    *  - `keep` — the Table A1 thresholds for the emitted columns:
    *    top-2 ≤ 0.20, top-3 ≤ 0.18, top-4 ≤ 0.16, dup-5 ≤ 0.15,
    *    dup-10 ≤ 0.10 (e3 fixed point, floor — engine-exact).
    *
    * The character base is WORD characters (Σ token lengths,
    * whitespace excluded — the [[gopherRules]] convention). The TOP
    * fractions use the paper's `count·chars` accounting, which counts
    * a self-overlapping gram's characters once PER OCCURRENCE — on a
    * degenerate doc like "ab ab ab ab" the top-2 fraction exceeds
    * 1000 (spec-pinned); the dup fractions are overlap-deduped and
    * never exceed 1000.
    *
    * Scale shape: ONE tokenize pass (the token/length arrays are cut
    * and shared by all three consumers), then ONE generator pass
    * emits every (n, pos, hash, gram_chars) instance for all five n
    * in a single explode (~Σn instances per token, 32-byte rows) and
    * streams STRAIGHT into the map-side-combining (doc, n, hash)
    * count aggregate — the instance frame itself is never
    * materialized or joined; each window group keeps its position
    * list, so the dup-coverage tail explodes dup groups to their ≤n·c
    * positions directly, distincts (doc, n, pos), and sums
    * per-position token lengths from one posexplode of the lengths
    * array — all id+long keys, output-bounded by dup density. Docs
    * shorter than an n emit nothing for it (fractions pin to 0).
    */
  def gopherRepetition(
      docs: DataFrame,
      dupNs: Seq[Int] = Seq(5, 10),
      textCol: String = "text",
      checkpointDir: Option[String] = None): DataFrame = {
    val topNs = Seq(2, 3, 4)
    require(dupNs.size == 2 && dupNs.head < dupNs.last &&
      dupNs.forall(n => n >= 5 && n <= 10),
      s"dupNs must be two distinct ns in the paper's 5..10 band, got $dupNs")
    require(dupNs.intersect(topNs).isEmpty,
      s"dupNs overlap the fixed top-gram ns $topNs: $dupNs")
    // Table A1 dup-gram thresholds interpolate 0.15 (n=5) .. 0.10
    // (n=10): e3 threshold = 200 - 10n
    def dupThr(n: Int): Long = 200L - 10L * n
    val ns = topNs ++ dupNs.distinct.sorted
    // BOTH multi-consumer frames are cut: the tokenized frame `t`
    // feeds three consumers (base, the instance generator, lensFrame),
    // so the cut runs the regexp tokenize ONCE instead of three times;
    // it stores token+length arrays (~2× text), strictly smaller than
    // the ~Σn-rows-per-token instance frame the pre-r19 shape
    // materialized.
    val t = Checkpoints.cut(docs.select(col("doc_id"),
        tokens(coalesce(col(textCol), lit(""))).as("toks"))
      .select(col("doc_id"), col("toks"),
        transform(col("toks"), x => length(x).cast("long")).as("lens")),
      checkpointDir)
    val base = t.select(col("doc_id"),
      size(col("toks")).cast("long").as("n_tokens"),
      aggregate(col("lens"), lit(0L), (a, v) => a + v).as("char_base"))
    // one generator for every n: struct(n, pos, h, clen) per window
    val instArr = flatten(array(ns.map { n =>
      when(size(col("toks")) >= n,
        transform(sequence(lit(0), size(col("toks")) - n), i =>
          struct(
            lit(n.toLong).as("n"),
            i.cast("long").as("pos"),
            graft.functions.Hashing.portableHash(
              array_join(slice(col("toks"), i + 1, lit(n)), " ")).as("h"),
            aggregate(slice(col("lens"), i + 1, lit(n)), lit(0L),
              (a, v) => a + v).as("clen"))))
        .otherwise(array().cast(
          "array<struct<n:bigint,pos:bigint,h:bigint,clen:bigint>>"))
    }: _*))
    // the instance stream has ONE consumer (the window-count
    // aggregate) and is never materialized — the grouped `cnt` frame
    // carries each window group's POSITION LIST instead, so the dup
    // tail explodes its own positions rather than joining back
    // against the ~Σn-rows-per-token instance frame (the r18 shape:
    // inst was cut AND shuffled whole through an (doc, n, h) SMJ just
    // to recover positions). `cnt` is the only instance-order frame
    // that persists, it is double-consumed (tops + the dup tail), and
    // only the dup-n groups collect positions (the top-gram groups'
    // lists stay empty): their lists sum to exactly the dup-n instance
    // count, so a doc of one token repeated k times buffers positions
    // for the two dup ns only.
    val inst =
      t.select(col("doc_id"), explode(instArr).as("g"))
        .select(col("doc_id"), col("g.n").as("n"), col("g.pos").as("pos"),
          col("g.h").as("h"), col("g.clen").as("clen"))
    val cnt = Checkpoints.cut(
      inst.groupBy(col("doc_id"), col("n"), col("h"))
        .agg(count(lit(1)).as("c"), max(col("clen")).as("clen"),
          collect_list(when(col("n").isInCollection(dupNs.map(_.toLong)),
            col("pos"))).as("poss")),
      checkpointDir)
    val tops = cnt.filter(col("n").isInCollection(topNs.map(_.toLong)))
      .groupBy(col("doc_id"), col("n"))
      .agg(max(col("c") * col("clen")).as("cov"))
    val dupPos = cnt
      .filter(col("n").isInCollection(dupNs.map(_.toLong)) && col("c") >= 2)
      .select(col("doc_id"), col("n"), explode(col("poss")).as("pos"))
      .select(col("doc_id"), col("n"),
        explode(sequence(col("pos"), col("pos") + col("n") - 1)).as("p"))
      .distinct()
    val lensFrame = t.select(col("doc_id"),
        posexplode(col("lens")).as(Seq("p", "len")))
      .select(col("doc_id"), col("p").cast("long").as("p"), col("len"))
    val dupCov = dupPos.join(lensFrame, Seq("doc_id", "p"))
      .groupBy(col("doc_id"), col("n"))
      .agg(sum(col("len")).as("cov"))
    val wide = tops.unionByName(dupCov)
      .groupBy(col("doc_id"))
      .agg(
        max(when(col("n") === 2, col("cov"))).as("cov2"),
        max(when(col("n") === 3, col("cov"))).as("cov3"),
        max(when(col("n") === 4, col("cov"))).as("cov4"),
        max(when(col("n") === dupNs.head.toLong, col("cov"))).as("covd1"),
        max(when(col("n") === dupNs.last.toLong, col("cov"))).as("covd2"))
    val e3 = (cov: Column, cb: Column) =>
      when(cb > 0, floor(coalesce(cov, lit(0L)) * 1000 / cb))
        .otherwise(0L).cast("long")
    val out = base.join(wide, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"), col("n_tokens"),
        e3(col("cov2"), col("char_base")).as("top2_chars_e3"),
        e3(col("cov3"), col("char_base")).as("top3_chars_e3"),
        e3(col("cov4"), col("char_base")).as("top4_chars_e3"),
        e3(col("covd1"), col("char_base")).as(s"dup${dupNs.head}_chars_e3"),
        e3(col("covd2"), col("char_base")).as(s"dup${dupNs.last}_chars_e3"))
    out.withColumn("keep",
      col("top2_chars_e3") <= 200 && col("top3_chars_e3") <= 180 &&
        col("top4_chars_e3") <= 160 &&
        col(s"dup${dupNs.head}_chars_e3") <= dupThr(dupNs.head) &&
        col(s"dup${dupNs.last}_chars_e3") <= dupThr(dupNs.last))
  }

  /** Self-trained bigram-LM perplexity screen — the CCNet-shaped
    * quality signal (Wenzek et al. 2020 score documents by LM
    * perplexity; the reference pipeline has no LM at all, so this is
    * engine-added surface like the rest of the curation family). A
    * maximum-likelihood bigram model is trained ON the corpus itself
    * in the same job — no external model artifact — and every document
    * is scored by its negative log-likelihood under that model:
    * gibberish, shuffled text, and OCR noise sit far from the corpus
    * bigram distribution and score high; natural prose scores low.
    *
    * Integer-exactness contract: the per-instance cost is
    * `ilog2(c(w1·)) − ilog2(c(w1,w2))` whole bits, where
    * `ilog2(n) = floor(log2 n)` is computed as `length(bin(n)) − 1` —
    * pure integer arithmetic both here and in the DuckDB oracle (no
    * transcendentals, per the repo exactness rules). `c(w1,w2)` is the
    * corpus count of the bigram and `c(w1·)` the corpus count of `w1`
    * in bigram-PREFIX position (the proper conditional-MLE
    * denominator, and it makes every count derivable from one
    * instances frame). The doc's bigrams are part of the training
    * counts, so `c(w1,w2) ≥ 1` always — self-training is its own
    * smoothing; no OOV branch.
    *
    * Output: `(doc_id, n_bigrams, bits_total, bits_per_bigram_e3,
    * keep)`; `keep` = has bigrams AND mean bits ≤ `maxBitsE3/1000`
    * (low perplexity = natural text, the CCNet "head/middle" keep
    * rule). Docs with < 2 tokens score 0 with `keep = false` (no
    * signal ⇒ drop, matching CCNet).
    *
    * 100 TB shape: documents are reduced to (w1_hash, bigram_hash)
    * longs by the fused native shingle kernel in one scan — token
    * text never shuffles. The three aggregations reuse the cached
    * instances frame; the count tables are vocabulary-sized (≪ corpus)
    * and join back on 8-byte keys, partial-aggregated map-side. At
    * test scale AQE broadcasts them; at 10⁹-bigram vocab the shuffle
    * join on hashed keys is exactly the right plan, so the optimizer's
    * choice is correct at both ends.
    *
    * CACHING CONTRACT: the per-bigram instance frame stays cached
    * (MEMORY_AND_DISK) after the call so the three aggregations share
    * one tokenize+hash scan — the right trade for a scoring pass that
    * is consumed once and for repeated re-scoring in a session. The
    * frame is registered in the one-slot [[lmSlot]] (r16): the
    * next LM scoring call releases it automatically, so repeated
    * calls hold at most ONE corpus-sized frame; consume each result
    * before the next construction, and call [[releaseLmCache]] after
    * the last. (Contrast [[dsirWeights]], whose bucket model is
    * B-bounded and therefore collects + broadcasts instead of
    * caching — that shape is not available here because the count
    * tables are vocabulary-sized, not parameter-bounded.)
    */
  def bigramLmScore(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxBitsE3: Long = 10000,
      hash: Hashing.HashTier = Hashing.Fast): DataFrame = {
    import graft.functions.NativeOps.shingleHashes
    // one row per bigram INSTANCE: (doc, prefix-token hash, bigram hash)
    val inst = lmSlot.claim(docs.select(
        col(idCol).as("doc_id"),
        shingleHashes(col(textCol), 1, hash.portable).as("h1"),
        posexplode(shingleHashes(col(textCol), 2, hash.portable)))
      .select(
        col("doc_id"),
        element_at(col("h1"), col("pos") + 1).as("w1h"),
        col("col").as("bh")))
    val ic = inst.groupBy(col("doc_id"), col("w1h"), col("bh"))
      .agg(count(lit(1)).as("n"))
    val uni = inst.groupBy(col("w1h")).agg(count(lit(1)).as("cu"))
      .select(col("w1h"), (length(bin(col("cu"))) - 1).cast("long").as("lu"))
    val big = inst.groupBy(col("bh")).agg(count(lit(1)).as("cb"))
      .select(col("bh"), (length(bin(col("cb"))) - 1).cast("long").as("lb"))
    val perDoc = ic.join(big, Seq("bh")).join(uni, Seq("w1h"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("n")).as("n_bigrams"),
        sum(col("n") * (col("lu") - col("lb"))).as("bits_total"))
    val mean = floor(col("bits_total") * 1000 / col("n_bigrams"))
    docs.select(col(idCol).as("doc_id")).join(perDoc, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).cast("long").as("n_bigrams"),
        coalesce(col("bits_total"), lit(0L)).cast("long").as("bits_total"),
        when(col("n_bigrams").isNotNull && col("n_bigrams") > 0, mean)
          .otherwise(0L).cast("long").as("bits_per_bigram_e3"),
        (col("n_bigrams").isNotNull && col("n_bigrams") > 0 &&
          mean <= maxBitsE3).as("keep"))
  }

  /** Interpolated trigram-LM perplexity screen with stupid backoff —
    * [[bigramLmScore]] at the order production quality filtering
    * actually runs (CCNet/DCLM score with an order-5 KenLM; order 3
    * with backoff is the same estimator family, and the bigram frame
    * generalizes directly). Counts train on the `trainPermille` hash
    * slice of the corpus itself (the [[hashSplit]] device — a
    * SELF-trained model has every trigram in its own counts, which
    * would leave the backoff path dead code); every document is
    * scored, so held-out docs exercise the full backoff chain.
    *
    * Stupid backoff (Brants et al. 2007, "Large Language Models in
    * Machine Translation") in the repo's whole-bit ilog2 convention
    * (`ilog2(n) = length(bin(n)) − 1`, integer-exact in both
    * engines); each backoff level adds `backoffBits` (default 1 —
    * α = 1/2, the whole-bit quantization of Brants' α = 0.4):
    *
    *  - trigram seen:  `ilog2(c(w1w2·)) − ilog2(c(w1w2w3))`
    *  - else bigram:   `backoffBits + ilog2(c(w2·)) − ilog2(c(w2w3))`
    *  - else unigram (Laplace, covers OOV):
    *                   `2·backoffBits + ilog2(T+V) − ilog2(c(w3)+1)`
    *
    * All counts are over the train slice's TRIGRAM-INSTANCE frame
    * (prefix counts are the proper conditional-MLE denominators, and
    * one frame derives every table): `c(w1w2·)` = instances with that
    * prefix bigram, `c(w2w3)` = instances with that suffix bigram,
    * `c(w2·)` = instances with that middle token, `c(w3)`/`T`/`V` =
    * final-token counts/total/distinct. If a suffix bigram is seen,
    * its middle token necessarily is too — the backoff denominators
    * exist exactly when their branch fires.
    *
    * Output: `(doc_id, n_trigrams, n_backoff, bits_total,
    * bits_per_trigram_e3, keep)`; `n_backoff` counts instances that
    * missed the trigram table (the backoff-activity signal); `keep` =
    * has trigrams AND mean bits ≤ `maxBitsE3/1000`. Docs with < 3
    * tokens score 0 with `keep = false` (no signal ⇒ drop).
    *
    * 100 TB shape and CACHING CONTRACT: identical to
    * [[bigramLmScore]] — one fused shingle scan reduces text to five
    * 8-byte hash columns (text never shuffles, plan-gated), the count
    * tables are vocabulary-sized and join back on hash keys, the
    * cached instance frame feeds the six aggregations, and `T`/`V`
    * ride a 1-row broadcast.
    */
  def trigramLmScore(
      docs: DataFrame,
      trainPermille: Int = 900,
      maxBitsE3: Long = 12000,
      backoffBits: Long = 1,
      textCol: String = "text",
      idCol: String = "doc_id",
      hash: Hashing.HashTier = Hashing.Fast): DataFrame = {
    require(trainPermille >= 1 && trainPermille <= 999,
      s"trainPermille must be in [1, 999], got $trainPermille")
    // one row per trigram INSTANCE, all five hash roles attached; the
    // is_train flag rides the SAME projection (it needs the text
    // column, which the instance frame drops)
    val inst = lmSlot.claim(
      trigramInst(docs, textCol, idCol, hash, Some(trainPermille)))
    val (c3, p3, c2, p2, cu, tv) = trigramTables(inst.filter(col("is_train")))
    val ic = inst.groupBy(
        col("doc_id"), col("t3h"), col("b12h"), col("b23h"),
        col("w2h"), col("w3h"))
      .agg(count(lit(1)).as("n"))
    trigramScoreTail(docs.select(col(idCol).as("doc_id")), ic,
      c3, p3, c2, p2, cu, tv, maxBitsE3, backoffBits)
  }

  /** Five-role trigram instance frame — one row per trigram instance
    * with `(doc_id[, is_train], t3h, b12h, b23h, w2h, w3h)` — shared
    * by the monolithic [[trigramLmScore]], [[trigramLmTrain]] and
    * [[trigramLmScoreWith]] so hashing/role extraction cannot drift.
    */
  private def trigramInst(docs: DataFrame, textCol: String, idCol: String,
      hash: Hashing.HashTier, trainPermille: Option[Int]): DataFrame = {
    import graft.functions.NativeOps.shingleHashes
    val base: Seq[Column] =
      Seq(col(idCol).as("doc_id")) ++
      trainPermille.map(p =>
        (pmod(hash(col(textCol)), lit(1000L)) < p).as("is_train")).toSeq ++
      Seq(
        shingleHashes(col(textCol), 1, hash.portable).as("h1"),
        shingleHashes(col(textCol), 2, hash.portable).as("h2"),
        posexplode(shingleHashes(col(textCol), 3, hash.portable)))
    val roles: Seq[Column] =
      Seq(col("doc_id")) ++
      trainPermille.map(_ => col("is_train")).toSeq ++
      Seq(
        col("col").as("t3h"),
        element_at(col("h2"), col("pos") + 1).as("b12h"),
        element_at(col("h2"), col("pos") + 2).as("b23h"),
        element_at(col("h1"), col("pos") + 2).as("w2h"),
        element_at(col("h1"), col("pos") + 3).as("w3h"))
    docs.select(base: _*).select(roles: _*)
  }

  /** The six count tables of the stupid-backoff estimator from a
    * TRAIN instance frame (vocabulary-sized each; `tv` is the 1-row
    * `ilog2(T + V)` broadcast).
    */
  private def trigramTables(tr: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val ilog2 = (c: Column) => (length(bin(c)) - 1).cast("long")
    val c3 = tr.groupBy(col("t3h")).agg(count(lit(1)).as("n3"))
      .select(col("t3h"), ilog2(col("n3")).as("l3"))
    val p3 = tr.groupBy(col("b12h")).agg(count(lit(1)).as("np3"))
      .select(col("b12h"), ilog2(col("np3")).as("lp3"))
    val c2 = tr.groupBy(col("b23h")).agg(count(lit(1)).as("n2"))
      .select(col("b23h"), ilog2(col("n2")).as("l2"))
    val p2 = tr.groupBy(col("w2h")).agg(count(lit(1)).as("np2"))
      .select(col("w2h"), ilog2(col("np2")).as("lp2"))
    val cu = tr.groupBy(col("w3h")).agg(count(lit(1)).as("cw"))
    val tv = cu.agg(
      ilog2(coalesce(sum(col("cw")), lit(0L)) + count(lit(1))).as("ltv"))
    (c3, p3, c2, p2, cu, tv)
  }

  /** The scoring tail shared by the monolithic screen and the
    * frozen-model scorer: per-(doc, role-tuple) counts `ic` against
    * the six tables → backoff-chain bits → per-doc totals → the
    * all-docs left-outer final projection.
    */
  private def trigramScoreTail(ids: DataFrame, ic: DataFrame,
      c3: DataFrame, p3: DataFrame, c2: DataFrame, p2: DataFrame,
      cu: DataFrame, tv: DataFrame,
      maxBitsE3: Long, backoffBits: Long): DataFrame = {
    val ilog2 = (c: Column) => (length(bin(c)) - 1).cast("long")
    val bits =
      when(col("l3").isNotNull, col("lp3") - col("l3"))
        .when(col("l2").isNotNull,
          lit(backoffBits) + col("lp2") - col("l2"))
        .otherwise(lit(2 * backoffBits) + col("ltv") -
          ilog2(coalesce(col("cw"), lit(0L)) + 1))
    val perDoc = ic
      .join(c3, Seq("t3h"), "left_outer")
      .join(p3, Seq("b12h"), "left_outer")
      .join(c2, Seq("b23h"), "left_outer")
      .join(p2, Seq("w2h"), "left_outer")
      .join(cu, Seq("w3h"), "left_outer")
      .crossJoin(broadcast(tv))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("n")).as("n_trigrams"),
        sum(when(col("l3").isNull, col("n")).otherwise(lit(0L))).as("n_backoff"),
        sum(col("n") * bits).as("bits_total"))
    val mean = floor(col("bits_total") * 1000 / col("n_trigrams"))
    ids.join(perDoc, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        coalesce(col("n_trigrams"), lit(0L)).cast("long").as("n_trigrams"),
        coalesce(col("n_backoff"), lit(0L)).cast("long").as("n_backoff"),
        coalesce(col("bits_total"), lit(0L)).cast("long").as("bits_total"),
        when(col("n_trigrams").isNotNull && col("n_trigrams") > 0, mean)
          .otherwise(0L).cast("long").as("bits_per_trigram_e3"),
        (col("n_trigrams").isNotNull && col("n_trigrams") > 0 &&
          mean <= maxBitsE3).as("keep"))
  }

  /** Frozen trigram-LM artifact — the six stupid-backoff count tables
    * plus the hash tier and backoff penalty they were trained with
    * (the [[NbModel]] deployment contract: a scorer-side tier or
    * penalty could silently mismatch every probe). Train once on the
    * REFERENCE corpus, score forever — CCNet's actual deployment shape
    * (the model is trained on Wikipedia, not on the crawl it filters;
    * the self-trained [[trigramLmScore]] is the self-contained oracle
    * form).
    */
  case class TrigramLmModel(c3: DataFrame, p3: DataFrame, c2: DataFrame,
      p2: DataFrame, cu: DataFrame, tv: DataFrame,
      hash: Hashing.HashTier, backoffBits: Long) {
    /** Write all six frames under `dir` and reload — training executes
      * once; every later scorer pays a parquet scan of
      * vocabulary-sized tables, never a corpus re-aggregation.
      */
    def materialized(dir: String): TrigramLmModel = {
      def rt(df: DataFrame, sub: String): DataFrame = {
        df.write.mode("overwrite").parquet(s"$dir/$sub")
        df.sparkSession.read.parquet(s"$dir/$sub")
      }
      TrigramLmModel(rt(c3, "c3"), rt(p3, "p3"), rt(c2, "c2"),
        rt(p2, "p2"), rt(cu, "cu"), rt(tv, "tv"), hash, backoffBits)
    }
  }

  /** Train the stupid-backoff trigram tables on `train` (see
    * [[trigramLmScore]] for the estimator). The caller picks the
    * training slice — `docs.filter(pmod(hash(text), 1000) < p)`
    * reproduces the monolithic screen's slice exactly (spec law:
    * train + [[trigramLmScoreWith]] ≡ [[trigramLmScore]] row-for-row).
    */
  def trigramLmTrain(
      train: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      hash: Hashing.HashTier = Hashing.Fast,
      backoffBits: Long = 1): TrigramLmModel = {
    val (c3, p3, c2, p2, cu, tv) =
      trigramTables(trigramInst(train, textCol, idCol, hash, None))
    TrigramLmModel(c3, p3, c2, p2, cu, tv, hash, backoffBits)
  }

  /** Score `docs` against a frozen [[TrigramLmModel]] — the
    * deployment half of [[trigramLmScore]] (same output schema). The
    * per-batch/per-partition cost is one fused shingle scan of `docs`
    * plus vocabulary-sized hash-key joins; the model never recomputes.
    */
  def trigramLmScoreWith(
      docs: DataFrame,
      model: TrigramLmModel,
      maxBitsE3: Long = 12000,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val ic = trigramInst(docs, textCol, idCol, model.hash, None)
      .groupBy(
        col("doc_id"), col("t3h"), col("b12h"), col("b23h"),
        col("w2h"), col("w3h"))
      .agg(count(lit(1)).as("n"))
    trigramScoreTail(docs.select(col(idCol).as("doc_id")), ic,
      model.c3, model.p3, model.c2, model.p2, model.cu, model.tv,
      maxBitsE3, model.backoffBits)
  }

  /** CCNet perplexity buckets (Wenzek et al. 2020 §3.3): every
    * document labeled `head` / `middle` / `tail` by which TERCILE of
    * the corpus perplexity distribution it falls in — the screen
    * CCNet actually ships (the thresholded [[trigramLmScore]] `keep`
    * is the cruder binary form; CCNet keeps the buckets so downstream
    * mixing can weight them). Scores come from [[trigramLmScore]]
    * (same stupid-backoff estimator, same train slice); thresholds
    * are VALUES, not per-document ranks: `t1` = the smallest
    * `bits_per_trigram_e3` whose cumulative count covers ≥ 1/3 of the
    * scored docs, `t2` likewise for 2/3, and every doc with the same
    * score lands in the same bucket (no id tiebreak inside a score
    * value — tied docs are indistinguishable to the model). Docs with
    * no trigrams (< 3 tokens) carry no signal and pin to `tail`.
    *
    * Scale shape: the tercile cut does NOT rank the corpus — it
    * aggregates a HISTOGRAM keyed by the score value
    * (`bits_per_trigram_e3` is integer whole-bits ×1000, a few
    * thousand distinct values no matter the corpus size), runs the
    * cumulative sum on that bounded table (the one single-partition
    * window in the operator — histogram-sized by construction), and
    * broadcasts the two thresholds back as a 1-row frame. A
    * percentile over 100 TB of docs costs one map-side-combining
    * count aggregate, never a global sort.
    *
    * Output: `(doc_id, n_trigrams, bits_per_trigram_e3, bucket)`, one
    * row per input document.
    */
  def pplBuckets(
      docs: DataFrame,
      trainPermille: Int = 900,
      maxBitsE3: Long = 12000,
      backoffBits: Long = 1,
      textCol: String = "text",
      idCol: String = "doc_id",
      hash: Hashing.HashTier = Hashing.Fast,
      checkpointDir: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // cut the scored frame: it feeds BOTH the histogram and the final
    // projection — without the cut the whole trigram pipeline (shingle
    // scan + six count tables) executes twice (measured 5.5s vs 3.2s
    // at sf0.1). The cut frame is 4 narrow columns per doc — the
    // operator's own output size class
    val scored = Checkpoints.cut(
      trigramLmScore(docs, trainPermille, maxBitsE3, backoffBits,
        textCol, idCol, hash)
        .select(col("doc_id"), col("n_trigrams"), col("bits_per_trigram_e3")),
      checkpointDir)
    val hist = scored.filter(col("n_trigrams") > 0)
      .groupBy(col("bits_per_trigram_e3").as("s"))
      .agg(count(lit(1)).as("c"))
    // single-partition window is SAFE here: `hist` is score-value-
    // bounded (whole bits ×1000), not corpus-sized
    val wcum = Window.orderBy(col("s").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("c")).over(wcum))
    val tot = hist.agg(coalesce(sum(col("c")), lit(0L)).as("n"))
    val th = cum.crossJoin(broadcast(tot)).agg(
      min(when(col("cum") * 3 >= col("n"), col("s"))).as("t1"),
      min(when(col("cum") * 3 >= col("n") * 2, col("s"))).as("t2"))
    scored.crossJoin(broadcast(th)).select(
      col("doc_id"), col("n_trigrams"), col("bits_per_trigram_e3"),
      pplBucket(col("t1"), col("t2")).as("bucket"))
  }

  /** The head/middle/tail label of a trigram-LM-scored row
    * (`n_trigrams`, `bits_per_trigram_e3`) against tercile thresholds
    * `t1 <= t2`: at most `t1` is head, at most `t2` middle, the rest
    * and every unscorable (0-trigram) doc tail. [[pplBuckets]] passes
    * the thresholds it derives; a streaming screen passes frozen
    * literals.
    */
  def pplBucket(t1: Column, t2: Column): Column =
    when(col("n_trigrams") === 0, "tail")
      .when(col("bits_per_trigram_e3") <= t1, "head")
      .when(col("bits_per_trigram_e3") <= t2, "middle")
      .otherwise("tail")

  /** Self-trained multinomial Naive-Bayes SOURCE classifier — the
    * fastText-shaped quality/domain-classifier stage of a curation
    * pipeline (DCLM, FineWeb-Edu and friends train a cheap linear
    * classifier and filter by its score; the reference has no
    * classifier at all), realized with the repo's integer-exactness
    * rules so the whole artifact replicates bit-for-bit in SQL. The
    * corpus splits deterministically into train/test on
    * `pmod(portableHash(text), 1000) < trainPermille` (the
    * [[hashSplit]] device); token counts per source are the model;
    * each held-out doc is scored per candidate source in whole
    * ilog2-bits (`ilog2(n) = length(bin(n)) − 1`, no
    * transcendentals) with Laplace smoothing:
    *
    *   bits(d, s) = Σ_{w ∈ d} [ilog2(tot_s + V) − ilog2(c_s(w) + 1)]
    *                + ilog2(N) − ilog2(docs_s)
    *
    * (V = train vocabulary size — the shared smoothing denominator;
    * N = train doc count; the second line is the class prior). The
    * prediction is the bits-minimizing source, ties broken by source
    * name — fully deterministic.
    *
    * 100 TB shape: the model is the (source, token-hash) count table —
    * vocabulary-sized, NOT collected to the driver; test-doc token
    * instances probe it by an 8-byte-key join. The per-candidate
    * expansion crossJoins a BROADCAST s-row source list (broadcast
    * nested loop over s ≤ dozens — the [[sourceTvd]] pattern), and
    * `V`/`N` ride along as 1-row broadcast frames. No driver-side
    * state; token text never shuffles (hashed at the scan).
    *
    * Output per test doc: `(doc_id, actual, predicted, bits_best,
    * correct)`.
    */
  def nbSourceClassify(
      docs: DataFrame,
      trainPermille: Int = 900,
      srcCol: String = "source",
      idCol: String = "doc_id",
      textCol: String = "text",
      hash: Hashing.HashTier = Hashing.Portable): DataFrame = {
    require(trainPermille >= 1 && trainPermille <= 999,
      s"trainPermille must leave both splits non-empty-able, got $trainPermille")
    val isTrain = pmod(hash(col(textCol)), lit(1000L)) < trainPermille
    val model = nbTrain(docs.filter(isTrain), srcCol, textCol, hash)
    nbScore(docs.filter(!isTrain), model, idCol, srcCol, textCol)
  }

  /** Frozen NB model artifact — four frames, all derived from one
    * token-instance scan of the training slice: the (cand, token-hash)
    * count table (vocabulary-sized, joined never collected), the s-row
    * candidate list with priors and totals, and the 1-row vocab-size /
    * train-count frames. Train once, score forever — the deployment
    * split [[nbTrain]]/[[nbScore]] exists for (a batch job scoring new
    * partitions daily, a stream scoring micro-batches).
    */
  case class NbModel(cnt: DataFrame, cands: DataFrame,
      vocab: DataFrame, nTrain: DataFrame,
      hash: Hashing.HashTier) {
    // the hash tier is a property of the TRAINED artifact: scoring
    // with a different tier would miss every count-table probe and
    // silently degenerate all predictions to the class prior, so the
    // model carries its tier and scorers never take one
    /** Write all four frames under `dir` and reload — the repeated-
      * scoring shape: the training plan executes ONCE here; each
      * subsequent scorer (micro-batch, cron job) pays a parquet scan,
      * not a corpus re-aggregation. The same freeze also pins the
      * model against training-data churn mid-stream.
      */
    def materialized(dir: String): NbModel = {
      def rt(df: DataFrame, sub: String): DataFrame = {
        df.write.mode("overwrite").parquet(s"$dir/$sub")
        df.sparkSession.read.parquet(s"$dir/$sub")
      }
      NbModel(rt(cnt, "cnt"), rt(cands, "cands"),
        rt(vocab, "vocab"), rt(nTrain, "ntrain"), hash)
    }
  }

  /** Train the multinomial NB model on `train` (see
    * [[nbSourceClassify]] for the full contract).
    */
  def nbTrain(
      train: DataFrame,
      srcCol: String = "source",
      textCol: String = "text",
      hash: Hashing.HashTier = Hashing.Portable): NbModel = {
    val trInst = train
      .select(col(srcCol).as("cand"), explode(tokens(col(textCol))).as("tok"))
      .select(col("cand"), hash(col("tok")).as("th"))
    val cnt = trInst.groupBy(col("cand"), col("th"))
      .agg(count(lit(1)).as("c"))
    val tot = cnt.groupBy(col("cand")).agg(sum(col("c")).as("tot"))
    val vocab = cnt.select(col("th")).distinct()
      .agg(count(lit(1)).as("v"))
    val priors = train.groupBy(col(srcCol).as("cand"))
      .agg(count(lit(1)).as("n_docs"))
    val nTrain = priors.agg(sum(col("n_docs")).as("n_train"))
    // candidate grid: s rows with prior + total — broadcast at every
    // use site (BroadcastNestedLoopJoin, never a shuffle)
    val cands = priors.join(broadcast(tot), Seq("cand"))
    NbModel(cnt, cands, vocab, nTrain, hash)
  }

  /** Score `docs` against a frozen [[NbModel]] (see
    * [[nbSourceClassify]] for the contract and scale shape). `docs`
    * need only carry id/actual/text; the model decides the candidate
    * set.
    */
  def nbScore(
      docs: DataFrame,
      model: NbModel,
      idCol: String = "doc_id",
      actualCol: String = "source",
      textCol: String = "text"): DataFrame = {
    def ilog2(c: Column): Column = (length(bin(c)) - 1).cast("long")
    val test = docs.select(
      col(idCol).as("doc_id"), col(actualCol).as("actual"),
      tokens(col(textCol)).as("toks"))
    val teInst = test.select(col("doc_id"), explode(col("toks")).as("tok"))
      .select(col("doc_id"), model.hash(col("tok")).as("th"))
      .crossJoin(broadcast(model.cands.select(col("cand"))))
    // per-(doc, cand) token bits: probe the count table, OOV ⇒ c = 0
    val tokBits = teInst
      .join(model.cnt, Seq("cand", "th"), "left_outer")
      .groupBy(col("doc_id"), col("cand"))
      .agg(
        count(lit(1)).as("n_inst"),
        sum(ilog2(coalesce(col("c"), lit(0L)) + 1)).as("sum_lc"))
    val grid = test.select(col("doc_id"), col("actual"))
      .crossJoin(broadcast(model.cands))
      .join(tokBits, Seq("doc_id", "cand"), "left_outer")
      .crossJoin(broadcast(model.vocab))
      .crossJoin(broadcast(model.nTrain))
      .select(
        col("doc_id"), col("actual"), col("cand"),
        (coalesce(col("n_inst"), lit(0L)) * ilog2(col("tot") + col("v"))
          - coalesce(col("sum_lc"), lit(0L))
          + ilog2(col("n_train")) - ilog2(col("n_docs"))).as("bits"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("bits").asc, col("cand").asc)
    grid.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        col("doc_id"), col("actual"), col("cand").as("predicted"),
        col("bits").as("bits_best"),
        (col("cand") === col("actual")).as("correct"))
  }

  /** Hashed linear one-vs-rest SOURCE classifier — the fastText-grade
    * stage DCLM-style curation actually ships (Joulin et al. 2017,
    * "Bag of Tricks for Efficient Text Classification"; Wang &
    * Manning 2012's NB log-count-ratio weights): features are hashed
    * UNIGRAMS + BIGRAMS folded into `featureBuckets` buckets (the
    * fastText hashing trick — the weight table is `s × buckets`
    * bounded regardless of corpus size), and each class's weight for
    * feature `f` is the closed-form NB-weighted log-odds in the
    * repo's whole-bit ilog2 convention
    * (`ilog2(n) = length(bin(n)) − 1`, integer-exact both engines):
    *
    *   w_s(f)  = ilog2(c_s(f) + 1) − ilog2(c_¬s(f) + 1)
    *   score_s(d) = Σ_f n_f(d)·w_s(f)
    *              + n_inst(d)·[ilog2(tot_¬s + V) − ilog2(tot_s + V)]
    *              + ilog2(docs_s) − ilog2(N − docs_s + 1)
    *
    * (`c_¬s(f) = c_tot(f) − c_s(f)`; the bracketed term is the two
    * classes' smoothing denominators hoisted out of the sum; the last
    * line is the prior log-odds). The prediction is the
    * odds-MAXIMIZING source, ties by source name. This is a genuinely
    * different — and on correlated features stronger — ranker than
    * [[nbSourceClassify]]: the one-vs-rest odds contrast each class
    * against the complement mixture, and bigram features carry local
    * co-occurrence that unigram NB's independence assumption erases
    * (the spec law pins a fixture where unigram distributions are
    * identical across classes and only bigram order discriminates:
    * NB degenerates to the tie-break, the linear scorer is exact).
    *
    * Split/probe plumbing is [[nbSourceClassify]]'s model-probe plan
    * verbatim: deterministic train/test on
    * `pmod(portableHash(text), 1000) < trainPermille`, model =
    * (cand, bucket) count table joined never collected, candidate
    * grid over a BROADCAST s-row frame, constants on 1-row broadcast
    * frames. 100 TB shape: token text never shuffles (hashed +
    * bucketed at the scan); the per-feature table is
    * min(s·buckets, s·corpus-vocab) rows; scoring shuffles 16-byte
    * `(doc, bucket)` keys.
    *
    * Output per test doc: `(doc_id, actual, predicted, odds_best,
    * correct)` — `odds_best` in whole bits, higher = more
    * predicted-class-like.
    */
  def linearSourceClassify(
      docs: DataFrame,
      trainPermille: Int = 900,
      featureBuckets: Int = 1 << 20,
      srcCol: String = "source",
      idCol: String = "doc_id",
      textCol: String = "text",
      hash: Hashing.HashTier = Hashing.Portable): DataFrame = {
    require(trainPermille >= 1 && trainPermille <= 999,
      s"trainPermille must leave both splits non-empty-able, got $trainPermille")
    val isTrain = pmod(hash(col(textCol)), lit(1000L)) < trainPermille
    val model = linearTrain(docs.filter(isTrain), featureBuckets, srcCol, textCol, hash)
    linearScore(docs.filter(!isTrain), model, idCol, srcCol, textCol)
  }

  /** Frozen hashed-linear model artifact — the [[NbModel]] discipline
    * for the one-vs-rest scorer: the (cand, bucket) count table, the
    * per-bucket complement totals, the s-row candidate frame, and the
    * 1-row constants frame (V, T, N), all derived from one
    * feature-instance scan of the training slice. The hash tier AND
    * bucket count are properties of the trained artifact: a scorer
    * probing with either changed would miss / mis-fold every bucket.
    */
  case class LinearModel(cnt: DataFrame, ctot: DataFrame,
      cands: DataFrame, consts: DataFrame,
      hash: Hashing.HashTier, featureBuckets: Int) {
    /** Write all four frames under `dir` and reload — train once,
      * score forever (see [[NbModel.materialized]]).
      */
    def materialized(dir: String): LinearModel = {
      def rt(df: DataFrame, sub: String): DataFrame = {
        df.write.mode("overwrite").parquet(s"$dir/$sub")
        df.sparkSession.read.parquet(s"$dir/$sub")
      }
      LinearModel(rt(cnt, "cnt"), rt(ctot, "ctot"),
        rt(cands, "cands"), rt(consts, "consts"), hash, featureBuckets)
    }
  }

  /** Hashed unigram+bigram feature-bucket instances of `textCol` —
    * the shared feature extractor of [[linearTrain]]/[[linearScore]]
    * (one fused shingle scan, bucketed at the scan; text never leaves
    * the projection).
    */
  private def linearFeatures(text: Column, buckets: Int,
      hash: Hashing.HashTier): Column = {
    import graft.functions.NativeOps.shingleHashes
    transform(
      concat(shingleHashes(text, 1, hash.portable),
        shingleHashes(text, 2, hash.portable)),
      h => pmod(h, lit(buckets.toLong)))
  }

  /** Train the hashed linear one-vs-rest model on `train` (see
    * [[linearSourceClassify]] for the full contract).
    */
  def linearTrain(
      train: DataFrame,
      featureBuckets: Int = 1 << 20,
      srcCol: String = "source",
      textCol: String = "text",
      hash: Hashing.HashTier = Hashing.Portable): LinearModel = {
    require(featureBuckets >= 2, s"featureBuckets must be >= 2, got $featureBuckets")
    val inst = train.select(
      col(srcCol).as("cand"),
      explode(linearFeatures(col(textCol), featureBuckets, hash)).as("f"))
    val cnt = inst.groupBy(col("cand"), col("f")).agg(count(lit(1)).as("c"))
    val ctot = cnt.groupBy(col("f")).agg(sum(col("c")).as("ct"))
    val tot = cnt.groupBy(col("cand")).agg(sum(col("c")).as("tot"))
    val priors = train.groupBy(col(srcCol).as("cand"))
      .agg(count(lit(1)).as("n_docs"))
    val consts = cnt.agg(
      count_distinct(col("f")).as("v"),
      coalesce(sum(col("c")), lit(0L)).as("t_all"))
      .crossJoin(broadcast(
        priors.agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_train"))))
    val cands = priors.join(broadcast(tot), Seq("cand"))
    LinearModel(cnt, ctot, cands, consts, hash, featureBuckets)
  }

  /** Score `docs` against a frozen [[LinearModel]] (see
    * [[linearSourceClassify]] for the contract and scale shape).
    */
  def linearScore(
      docs: DataFrame,
      model: LinearModel,
      idCol: String = "doc_id",
      actualCol: String = "source",
      textCol: String = "text"): DataFrame = {
    def ilog2(c: Column): Column = (length(bin(c)) - 1).cast("long")
    val test = docs.select(
      col(idCol).as("doc_id"), col(actualCol).as("actual"),
      linearFeatures(col(textCol), model.featureBuckets, model.hash).as("fs"))
    val teInst = test.select(col("doc_id"), explode(col("fs")).as("f"))
      .crossJoin(broadcast(model.cands.select(col("cand"))))
    // per-(doc, cand) feature odds: probe the class count AND the
    // bucket total; w = ilog2(c_s+1) − ilog2(ct − c_s + 1), a bucket
    // never seen in train contributes 0 here (1-vs-1 of empties) and
    // rides only the hoisted denominator term below
    val featOdds = teInst
      .join(model.cnt, Seq("cand", "f"), "left_outer")
      .join(model.ctot, Seq("f"), "left_outer")
      .groupBy(col("doc_id"), col("cand"))
      .agg(
        count(lit(1)).as("n_inst"),
        sum(ilog2(coalesce(col("c"), lit(0L)) + 1)
          - ilog2(coalesce(col("ct"), lit(0L)) - coalesce(col("c"), lit(0L)) + 1))
          .as("sum_w"))
    val grid = test.select(col("doc_id"), col("actual"))
      .crossJoin(broadcast(model.cands))
      .join(featOdds, Seq("doc_id", "cand"), "left_outer")
      .crossJoin(broadcast(model.consts))
      .select(
        col("doc_id"), col("actual"), col("cand"),
        (coalesce(col("sum_w"), lit(0L))
          + coalesce(col("n_inst"), lit(0L)) *
            (ilog2(col("t_all") - col("tot") + col("v"))
              - ilog2(col("tot") + col("v")))
          + ilog2(col("n_docs"))
          - ilog2(col("n_train") - col("n_docs") + 1)).as("odds"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("odds").desc, col("cand").asc)
    grid.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        col("doc_id"), col("actual"), col("cand").as("predicted"),
        col("odds").as("odds_best"),
        (col("cand") === col("actual")).as("correct"))
  }

  /** Frozen TRAINED logistic model: sparse one-vs-rest weights
    * `w(cand, f, wq)` (q20 fixed point, features absent = 0) + per-
    * class bias `b(cand, bq)` + the s-row candidate frame. Hash tier
    * and bucket count are artifact properties ([[LinearModel]] rule).
    */
  case class LogisticModel(w: DataFrame, b: DataFrame, cands: DataFrame,
      hash: Hashing.HashTier, featureBuckets: Int) {
    /** Persist + reload all frames — train once, score forever. */
    def materialized(dir: String): LogisticModel = {
      def rt(df: DataFrame, sub: String): DataFrame = {
        df.write.mode("overwrite").parquet(s"$dir/$sub")
        df.sparkSession.read.parquet(s"$dir/$sub")
      }
      LogisticModel(rt(w, "w"), rt(b, "b"), rt(cands, "cands"),
        hash, featureBuckets)
    }
  }

  /** ITERATIVELY trained one-vs-rest logistic classifier over the
    * [[linearFeatures]] hashed unigram+bigram space — the optimizer
    * [[linearSourceClassify]]'s closed-form NB log-count-ratio
    * weights lack (Joulin et al. 2017 train exactly this by SGD;
    * Wang & Manning 2012 §3 note the trained discriminative weights
    * win where feature correlation, not per-feature count ratios,
    * carries the signal — e.g. under class imbalance a ubiquitous
    * feature gets a large count-ratio weight from class size alone,
    * which gradient descent unlearns because the feature's gradient
    * cancels against the bias).
    *
    * Deterministic full-batch gradient descent in the
    * [[graft.operators.GraphOps.sgnsTrain]] fixed-point discipline:
    * weights are BIGINT q20, the logistic σ is the hard sigmoid
    * `clamp(2^19 + (score >> 2), 0, 2^20)`, the learning rate is the
    * arithmetic shift `>> lrShift` on the full-batch gradient sums,
    * and updates clamp to ±8·2^20 — every step BIGINT + arithmetic
    * shift, bit-identical across runs, partitionings, and engines
    * (the oracle unrolls the epochs). Per class `s` and doc `d` with
    * per-feature counts `n_f(d)`: `score = Σ_f n_f·w_s(f) + b_s`;
    * `g = 1[src(d)=s]·2^20 − hardsig(score)`;
    * `Δw_s(f) = Σ_d g·n_f(d) >> lrShift`, `Δb_s = Σ_d g >> lrShift`.
    * Weights init at 0 (the sparse empty frame), so untouched
    * features stay exactly 0 and the weight table is bounded by
    * min(s·featureBuckets, s·train-vocab) rows regardless of corpus.
    *
    * Scale shape per epoch: ONE scan of the per-(doc, f) count frame
    * (text never reshuffles — hashed + bucketed at the scan), times
    * the s-row broadcast candidate grid, a (doc, cand)-keyed score
    * aggregate, a (cand, f)-keyed map-side-combining gradient
    * aggregate, and a weight-table-sized outer-join update. Per-epoch
    * frames are lineage-cut (score and gradient both consume the
    * model; the gradient frame feeds dw and db).
    */
  def logisticTrain(
      train: DataFrame,
      epochs: Int = 2,
      lrShift: Int = 10,
      featureBuckets: Int = 1 << 20,
      srcCol: String = "source",
      idCol: String = "doc_id",
      textCol: String = "text",
      hash: Hashing.HashTier = Hashing.Portable,
      checkpointDir: Option[String] = None): LogisticModel = {
    require(epochs >= 1, s"epochs must be >= 1, got $epochs")
    require(lrShift >= 0 && lrShift <= 40, s"lrShift out of range: $lrShift")
    require(featureBuckets >= 2, s"featureBuckets must be >= 2, got $featureBuckets")
    val clampQ20 = 8L * 1048576L
    val fx = graft.operators.Checkpoints.cut(
      train.select(col(idCol).as("doc_id"),
          explode(linearFeatures(col(textCol), featureBuckets, hash)).as("f"))
        .groupBy(col("doc_id"), col("f"))
        .agg(count(lit(1)).as("n")), checkpointDir)
    val labels = graft.operators.Checkpoints.cut(
      train.select(col(idCol).as("doc_id"), col(srcCol).as("src")),
      checkpointDir)
    val cands = labels.select(col("src").as("cand")).distinct()
    // the weight table is min(s·featureBuckets, s·train-vocab)-row
    // bounded while the probe side (example-feature grid × classes) is
    // corpus-sized — the parameter-server shape. Every epoch's weight
    // table is a measured cut, so Spark's own
    // `spark.sql.autoBroadcastJoinThreshold` broadcasts the model side
    // of the probe join when it fits; above it the join stays
    // shuffled, never OOM.
    // zero-init weights as the sparse EMPTY frame: a feature enters
    // the table only when some epoch's gradient touches it
    var w = cands.limit(0).select(col("cand"),
      lit(null).cast("long").as("f"), lit(0L).as("wq"))
    var b = cands.select(col("cand"), lit(0L).as("bq"))
    for (epoch <- 1 to epochs) {
      // probe the sparse weight table with an INNER join on the
      // feature key alone: w carries every (cand, wq) row per trained
      // feature, so joining on f reproduces the crossJoin×(cand, f)
      // probe's non-zero contributions exactly, and the (doc, cand)
      // groups the inner join drops are precisely the all-zero sums
      // the g-frame's left_outer + coalesce(dw, 0) already supplies.
      // Epoch 1 skips the pass entirely — the weight table is
      // statically empty, so the old plan scanned the corpus-sized
      // feature frame once per class to compute sum(n·0) = 0.
      val grid = labels.crossJoin(broadcast(cands))
      val gBase = if (epoch == 1) grid.select(
          col("doc_id"), col("cand"), col("src"), lit(0L).as("dw"))
        else {
          val dots = fx
            .join(w, Seq("f"))
            .groupBy(col("doc_id"), col("cand"))
            .agg(sum(col("n") * col("wq")).as("dw"))
          grid.join(dots, Seq("doc_id", "cand"), "left_outer")
            .select(col("doc_id"), col("cand"), col("src"),
              coalesce(col("dw"), lit(0L)).as("dw"))
        }
      val g = graft.operators.Checkpoints.cut(
        gBase
          .join(broadcast(b), Seq("cand"))
          .select(col("doc_id"), col("cand"),
            (when(col("src") === col("cand"), lit(1048576L)).otherwise(0L) -
              least(greatest(lit(524288L) +
                shiftright(col("dw") + col("bq"), 2),
                lit(0L)), lit(1048576L))).as("g")), checkpointDir)
      val dwu = g.join(fx, Seq("doc_id"))
        .groupBy(col("cand"), col("f"))
        .agg(shiftright(sum(col("g") * col("n")), lrShift).as("delta"))
      // weight update as union + hash re-aggregate instead of the
      // previous full-outer sort-merge join (full-outer cannot
      // broadcast): each (cand, f) key appears at most once per side,
      // so clamp(sum(side values)) ≡ clamp(coalesce(wq,0) +
      // coalesce(delta,0)) — one map-side-combining exchange, no sort.
      // Epoch 1's w is statically empty: skip the union leg.
      val wNext =
        if (epoch == 1) dwu.select(col("cand"), col("f"),
          least(greatest(col("delta"), lit(-clampQ20)), lit(clampQ20))
            .as("wq"))
        else w.unionByName(
            dwu.select(col("cand"), col("f"), col("delta").as("wq")))
          .groupBy(col("cand"), col("f"))
          .agg(least(greatest(sum(col("wq")), lit(-clampQ20)),
            lit(clampQ20)).as("wq"))
      w = graft.operators.Checkpoints.cut(wNext, checkpointDir)
      val dbu = g.groupBy(col("cand"))
        .agg(shiftright(sum(col("g")), lrShift).as("delta"))
      b = graft.operators.Checkpoints.cut(
        b.join(dbu, Seq("cand"), "left_outer")
          .select(col("cand"),
            least(greatest(col("bq") + coalesce(col("delta"), lit(0L)),
              lit(-clampQ20)), lit(clampQ20)).as("bq")), checkpointDir)
    }
    LogisticModel(w, b, cands, hash, featureBuckets)
  }

  /** Score docs against a frozen [[LogisticModel]]: odds = q20 linear
    * score, prediction = argmax (ties by class name) — the
    * [[linearScore]] output contract `(doc_id, actual, predicted,
    * odds_best, correct)`. Probe shape is [[linearScore]]'s: hashed
    * features probe the sparse weight table on (cand, f) keys, the
    * candidate grid broadcasts, absent features contribute exactly 0.
    */
  def logisticScore(
      docs: DataFrame,
      model: LogisticModel,
      idCol: String = "doc_id",
      actualCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val test = docs.select(
      col(idCol).as("doc_id"), col(actualCol).as("actual"),
      linearFeatures(col(textCol), model.featureBuckets, model.hash).as("fs"))
    val fx = test
      .select(col("doc_id"), explode(col("fs")).as("f"))
      .groupBy(col("doc_id"), col("f"))
      .agg(count(lit(1)).as("n"))
    // trained weight table vs example-feature probe grid: the weight
    // table is a measured cut (or a materialized parquet read), so
    // Spark's own threshold broadcasts it when it fits. INNER join on
    // the feature key alone — w carries every (cand, wq) row
    // per trained feature, so this reproduces the crossJoin×(cand, f)
    // probe's non-zero sums exactly; the dropped all-zero (doc, cand)
    // groups re-enter as coalesce(dw, 0) in the grid join below.
    val dots = fx
      .join(model.w, Seq("f"))
      .groupBy(col("doc_id"), col("cand"))
      .agg(sum(col("n") * col("wq")).as("dw"))
    val grid = test.select(col("doc_id"), col("actual"))
      .crossJoin(broadcast(model.cands))
      .join(dots, Seq("doc_id", "cand"), "left_outer")
      .join(broadcast(model.b), Seq("cand"))
      .select(col("doc_id"), col("actual"), col("cand"),
        (coalesce(col("dw"), lit(0L)) + col("bq")).as("odds"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("odds").desc, col("cand").asc)
    grid.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        col("doc_id"), col("actual"), col("cand").as("predicted"),
        col("odds").as("odds_best"),
        (col("cand") === col("actual")).as("correct"))
  }

  /** [[logisticTrain]] + [[logisticScore]] on the deterministic
    * text-hash split — the [[linearSourceClassify]] harness with the
    * trained optimizer (same split, same features, same output).
    */
  def logisticSourceClassify(
      docs: DataFrame,
      trainPermille: Int = 900,
      epochs: Int = 2,
      lrShift: Int = 10,
      featureBuckets: Int = 1 << 20,
      srcCol: String = "source",
      idCol: String = "doc_id",
      textCol: String = "text",
      hash: Hashing.HashTier = Hashing.Portable,
      checkpointDir: Option[String] = None): DataFrame = {
    require(trainPermille >= 1 && trainPermille <= 999,
      s"trainPermille must leave both splits non-empty-able, got $trainPermille")
    val isTrain = pmod(hash(col(textCol)), lit(1000L)) < trainPermille
    val model = logisticTrain(docs.filter(isTrain), epochs, lrShift,
      featureBuckets, srcCol, idCol, textCol, hash, checkpointDir)
    logisticScore(docs.filter(!isTrain), model, idCol, srcCol, textCol)
  }

  /** Distributed BPE merge training (Sennrich et al. 2016, "Neural
    * Machine Translation of Rare Words with Subword Units") — the
    * tokenizer-training step of an LLM data pipeline: learn the first
    * `steps` byte-pair merges of the corpus. Each word starts as its
    * character sequence; each step counts adjacent symbol pairs
    * weighted by word frequency (overlaps count, as in the reference
    * implementation's `get_stats`), picks the most frequent pair
    * (ties: count desc, then pair lexicographic — fully
    * deterministic), and rewrites every word by merging its
    * occurrences GREEDILY LEFT-TO-RIGHT (in a run of overlapping
    * candidates only every other one merges — `a a a a` under (a,a)
    * becomes `aa aa`, not `aa a a`). Output: one row per learned
    * merge, `(step, sym_a, sym_b, pair_count)` — the merge table IS
    * the trained tokenizer artifact.
    *
    * The greedy rewrite is windowed, not sequential: candidate
    * positions (sym=a ∧ next=b) group into runs of consecutive
    * positions (only same-symbol runs can overlap), and a candidate
    * merges iff its offset from its run's first candidate is even —
    * exactly the left-to-right greedy outcome, computed with two
    * window passes over (word, pos) rows.
    *
    * 100 TB shape: the corpus is touched ONCE (the word-count
    * aggregate); the whole training loop runs on the vocabulary-sized
    * (word, n, syms) table. Per step: one pair aggregate, a 1-row
    * argmax that BROADCASTS back (TakeOrderedAndProject + broadcast
    * nested loop — no driver collect at all), one window pass per
    * word (vocab-sized partitions of word-length rows), one
    * reassembly aggregate, and a lineage cut. A step with no pairs
    * left yields no merge row and every later step is empty — the
    * output simply stops early.
    *
    * `byteLevel = true` is the GPT-2 mode (Radford et al. 2019 §2.2):
    * pre-tokens come from [[byteTokens]] (the RE2-portable GPT-2
    * pre-split — leading space attaches to the following run) and the
    * initial alphabet is the pre-token's UTF-8 BYTES, each rendered
    * as a 2-hex-digit symbol (a bijective renaming of GPT-2's
    * printable-unicode byte table that both engines compute natively
    * via `hex(encode(word))`). Consequences by construction: the
    * alphabet is closed (≤ 256 symbols — NO UNK on any input,
    * punctuation/CJK/emoji included), and segmentation is LOSSLESS —
    * unhex of the concatenated pieces of all pre-tokens in order is
    * the original text byte-for-byte (spec law). The merge/rewrite
    * machinery is shared verbatim with the character mode.
    */
  def bpeMerges(
      docs: DataFrame,
      steps: Int = 6,
      textCol: String = "text",
      checkpointDir: Option[String] = None,
      byteLevel: Boolean = false): DataFrame =
    bpeTrain(docs, steps, textCol, checkpointDir, byteLevel)._1

  /** GPT-2-shaped byte-level pre-tokenizer, restricted to the
    * Java+RE2-portable regex subset (no contraction specials, no
    * trailing-space lookahead): a leading single space attaches to
    * the letter / digit / punctuation run it precedes, residual
    * whitespace runs are their own pre-tokens. Concatenating all
    * pre-tokens reproduces the text byte-for-byte (every character is
    * consumed by exactly one alternative).
    *
    * Whitespace is the EXPLICIT class `[ \t\n\f\r]`, not `\s`: Java's
    * `\s` includes vertical tab (U+000B) while RE2's does not, so a
    * `\s`-based pattern pre-tokenizes VT differently in the two
    * engines (whitespace run vs punctuation run) and breaks the
    * oracle twin despite both sides covering the text. With the
    * explicit class both engines put VT (and NBSP etc.) in the
    * punctuation alternative.
    */
  def byteTokens(text: Column): Column =
    regexp_extract_all(text,
      lit(" ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\f\\r\\p{L}\\p{N}]+|[ \\t\\n\\f\\r]+"),
      lit(0))

  /** Train AND self-segment in one pass: the training loop's end state
    * IS the segmentation of the training corpus (pinned ≡
    * `bpeSegment(docs, bpeMerges(docs))` by spec), so a pipeline that
    * tokenizes the corpus it trained on — the standard
    * train-tokenizer-then-pack shape — gets the vocabulary for free
    * instead of replaying all `steps` rewrites plus a second corpus
    * scan. Output = [[bpeSegment]]'s `(word, n, n_pieces, segmented)`.
    */
  def bpeTrainSegmentation(
      docs: DataFrame,
      steps: Int = 6,
      textCol: String = "text",
      checkpointDir: Option[String] = None,
      byteLevel: Boolean = false): DataFrame =
    bpeTrain(docs, steps, textCol, checkpointDir, byteLevel)._2.select(
      col("word"), col("n"),
      size(col("syms")).cast("long").as("n_pieces"),
      array_join(col("syms"), " ").as("segmented"))

  /** The `(word, n, syms)` start state shared by training and
    * segmentation: distinct pre-tokens with counts, symbolized as
    * characters (default) or 2-hex-digit UTF-8 bytes (`byteLevel`).
    */
  private def bpeWordState(docs: DataFrame, textCol: String,
      byteLevel: Boolean): DataFrame = {
    val words = if (byteLevel) byteTokens(col(textCol)) else tokens(col(textCol))
    val syms =
      if (byteLevel) expr("regexp_extract_all(hex(encode(word, 'UTF-8')), '..', 0)")
      // split(_, "") keeps a trailing "" under Spark's limit=-1 —
      // filter it so the symbol list is exactly the characters
      else expr("filter(split(word, ''), x -> x != '')")
    docs.select(explode(words).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .select(col("word"), col("n"), syms.as("syms"))
  }

  private def bpeTrain(
      docs: DataFrame,
      steps: Int,
      textCol: String,
      checkpointDir: Option[String],
      byteLevel: Boolean = false): (DataFrame, DataFrame) = {
    require(steps >= 1, s"steps must be >= 1, got $steps")
    val spark = docs.sparkSession
    var state = Checkpoints.cut(
      bpeWordState(docs, textCol, byteLevel), checkpointDir)
    var merges: DataFrame = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("step",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("sym_a",
          org.apache.spark.sql.types.StringType, nullable = true),
        org.apache.spark.sql.types.StructField("sym_b",
          org.apache.spark.sql.types.StringType, nullable = true),
        org.apache.spark.sql.types.StructField("pair_count",
          org.apache.spark.sql.types.LongType, nullable = true))))
    var done = false
    for (i <- 1 to steps if !done) {
      // adjacent-pair counts, overlaps included (the get_stats rule)
      val pc = state.filter(size(col("syms")) >= 2)
        .select(col("n"),
          explode(expr(
            """transform(sequence(1, size(syms) - 1),
              |  j -> struct(element_at(syms, cast(j as int)) as a,
              |              element_at(syms, cast(j + 1 as int)) as b))"""
              .stripMargin)).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("n")).as("pn"))
      // 1-row cut: the rewrite below AND the final merge-table union
      // both consume it — without the cut each step's pair aggregate
      // would re-execute when the merge table is read
      val top = Checkpoints.cut(
        pc.orderBy(col("pn").desc, col("a").asc, col("b").asc).limit(1),
        checkpointDir)
      // early stop: no pairs left ⇒ no merge this or any later step,
      // and the state must SURVIVE (it is the segmentation result).
      // The isEmpty probe reads a ≤1-row checkpointed frame — a
      // steps-bounded driver action, like the k-bounded collects.
      if (top.isEmpty) done = true
      else {
        merges = merges.unionAll(top.select(
          lit(i.toLong).as("step"), col("a").as("sym_a"), col("b").as("sym_b"),
          col("pn").as("pair_count")))
        state = Checkpoints.cut(bpeMergeStep(state, top), checkpointDir)
      }
    }
    (merges, state)
  }

  /** One greedy left-to-right merge pass of the (1-row, broadcast)
    * `pair` frame over a `(word, n, syms)` state — shared by
    * [[bpeMerges]] (training) and [[bpeSegment]] (inference), so the
    * two sides cannot drift. See [[bpeMerges]] for the run-parity
    * construction.
    */
  private def bpeMergeStep(state: DataFrame, pair: DataFrame): DataFrame = {
    val w1 = Window.partitionBy(col("word")).orderBy(col("pos"))
    val wCum = w1.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ex = state
      .select(col("word"), col("n"), posexplode(col("syms")).as(Seq("pos", "sym")))
      .crossJoin(broadcast(pair.select(col("a"), col("b"))))
      .withColumn("nxt", lead(col("sym"), 1).over(w1))
      .withColumn("c",
        coalesce(col("sym") === col("a") && col("nxt") === col("b"), lit(false)))
      .withColumn("run",
        col("pos") - sum(when(col("c"), 1).otherwise(0)).over(wCum))
    val act = ex.withColumn("active",
      col("c") && pmod(
        col("pos") - min(when(col("c"), col("pos")))
          .over(Window.partitionBy(col("word"), col("run"))),
        lit(2)) === 0)
    act
      .withColumn("consumed",
        coalesce(lag(col("active"), 1).over(w1), lit(false)))
      .select(col("word"), col("n"), col("pos"),
        when(col("active"), concat(col("sym"), col("nxt")))
          .when(col("consumed"), lit(null))
          .otherwise(col("sym")).as("out"))
      .filter(col("out").isNotNull)
      .groupBy(col("word"), col("n"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("out")))),
        x => x("out")).as("syms"))
  }

  /** BPE segmentation (the inference half of [[bpeMerges]]): apply a
    * learned merge table to a corpus, in merge-rank order — every
    * word reduces to its subword pieces exactly as the trained
    * tokenizer would emit them. Output is the segmentation VOCABULARY:
    * one row per distinct word, `(word, n, n_pieces, segmented)` with
    * the pieces space-joined — the corpus-independent artifact a shard
    * writer joins back onto documents by word (segmenting the corpus
    * is then one vocab-sized broadcast/hash join, not per-doc work).
    *
    * Each step filters the (tiny, already-materialized) merge table to
    * its rank and replays the SAME greedy rewrite as training
    * ([[bpeMergeStep]]) — applying a tokenizer's merges in rank order
    * to its own training corpus reproduces the training end state
    * (pinned by spec). Scale shape: identical to the training loop,
    * vocabulary-bound after one corpus scan.
    */
  def bpeSegment(
      docs: DataFrame,
      merges: DataFrame,
      textCol: String = "text",
      checkpointDir: Option[String] = None,
      byteLevel: Boolean = false): DataFrame = {
    val m = Checkpoints.cut(
      merges.select(col("step"), col("sym_a"), col("sym_b")), checkpointDir)
    // the ACTUAL ranks present, in order — a filtered/re-based merge
    // table applies its merges in rank order rather than silently
    // emptying the state at the first missing rank (a rank whose
    // filter matched nothing would crossJoin the state away). The
    // collect is k-bounded (the merge table is k rows by contract);
    // duplicate ranks would double every (word, pos) row under the
    // rewrite windows, so they fail loudly instead.
    val ranks = m.select(col("step")).collect().map(_.getLong(0)).sorted
    require(ranks.distinct.length == ranks.length,
      s"merge table has duplicate step ranks: ${ranks.mkString(",")}")
    var state = Checkpoints.cut(
      bpeWordState(docs, textCol, byteLevel), checkpointDir)
    for (r <- ranks) {
      val pair = m.filter(col("step") === r)
        .select(col("sym_a").as("a"), col("sym_b").as("b"))
      state = Checkpoints.cut(bpeMergeStep(state, pair), checkpointDir)
    }
    state.select(
      col("word"), col("n"),
      size(col("syms")).cast("long").as("n_pieces"),
      array_join(col("syms"), " ").as("segmented"))
  }

  /** WordPiece-style greedy longest-match segmentation against a FIXED
    * vocabulary (Wu et al. 2016, "Google's Neural Machine Translation
    * System" §4.1; the `tokenizers` WordPiece decode rule) — the other
    * half of the tokenizer tier beside [[bpeSegment]]: BPE covers
    * merge-learned tokenizers, this covers the far more common
    * apply-a-published-vocab deployment. `vocab` is one `piece`
    * column; continuation pieces carry the standard `##` prefix. Per
    * word, scan left to right taking at each position the LONGEST
    * vocab piece that matches (`##`-form at interior positions); if no
    * piece matches at some position the WHOLE word becomes `unk` —
    * the pinned all-or-nothing WordPiece failure rule.
    *
    * Output is the segmentation vocabulary, [[bpeSegment]]'s shape:
    * one row per distinct word, `(word, n, n_pieces, segmented)`,
    * pieces space-joined (`[UNK]` rows report `n_pieces = 1`).
    *
    * Spark-first shape — greedy matching is sequential per word but
    * the heavy work is not: ONE corpus scan reduces text to the
    * distinct-word table; candidate (position, length) substrings
    * explode VOCABULARY-side (|words| · len · maxPieceChars rows —
    * corpus-independent); the vocab join resolves every position's
    * longest match set-orientedly (the distinct vocabulary is cut,
    * so the join broadcasts it map-side iff its measured bytes fit
    * `spark.sql.autoBroadcastJoinThreshold` and shuffles on the piece
    * string past that budget); and the per-word left-to-right
    * walk is a codegen'd `aggregate` HOF over the position→step map —
    * O(len) per word, no driver loop, no per-word shuffle.
    */
  def wordpieceSegment(
      docs: DataFrame,
      vocab: DataFrame,
      maxPieceChars: Int = 16,
      textCol: String = "text",
      unk: String = "[UNK]"): DataFrame = {
    require(maxPieceChars >= 1, s"maxPieceChars must be >= 1, got $maxPieceChars")
    val pieces = Checkpoints.cut(vocab.select(col("piece")).distinct(), None)
    val words = docs.select(explode(tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
    val cands = words.select(col("word"),
      explode(expr(
        s"""flatten(transform(sequence(0, length(word) - 1), p ->
           |  transform(sequence(1, least($maxPieceChars, length(word) - p)), l ->
           |    struct(cast(p as bigint) as p, cast(l as bigint) as l,
           |      concat(case when p > 0 then '##' else '' end,
           |             substring(word, p + 1, l)) as piece))))""".stripMargin)).as("c"))
      .select(col("word"), col("c.p").as("p"), col("c.l").as("l"),
        col("c.piece").as("piece"))
    val steps = cands
      .join(pieces, Seq("piece"))
      .groupBy(col("word"), col("p")).agg(max(col("l")).as("step"))
      .groupBy(col("word"))
      .agg(map_from_entries(collect_list(struct(col("p"), col("step")))).as("m"))
    words.join(steps, Seq("word"), "left_outer")
      .withColumn("m", coalesce(col("m"), expr("map()")))
      .withColumn("res", expr(
        """aggregate(
          |  sequence(cast(0 as bigint), cast(length(word) - 1 as bigint)),
          |  named_struct('pos', cast(0 as bigint),
          |               'pieces', cast(array() as array<string>),
          |               'ok', true),
          |  (acc, i) -> case
          |    when not acc.ok or i != acc.pos then acc
          |    when element_at(m, i) is null then
          |      named_struct('pos', cast(length(word) as bigint),
          |                   'pieces', acc.pieces, 'ok', false)
          |    else named_struct(
          |      'pos', acc.pos + element_at(m, i),
          |      'pieces', concat(acc.pieces, array(concat(
          |        case when i > 0 then '##' else '' end,
          |        substring(word, cast(i as int) + 1, cast(element_at(m, i) as int))))),
          |      'ok', true)
          |  end)""".stripMargin))
      .select(col("word"), col("n"),
        when(col("res.ok"), size(col("res.pieces")).cast("long"))
          .otherwise(1L).as("n_pieces"),
        when(col("res.ok"), array_join(col("res.pieces"), " "))
          .otherwise(lit(unk)).as("segmented"))
  }

  /** Unigram-LM Viterbi segmentation VALUE (Kudo 2018, "Subword
    * Regularization" §3 inference) against a fixed scored vocabulary —
    * the third tokenizer form beside [[bpeSegment]] (merge-learned)
    * and [[wordpieceSegment]] (greedy fixed-vocab): `vocab` prices
    * every piece with an integer `cost_bits` (the engine's whole-bit
    * self-information convention — e.g. `ilog2(total+1) −
    * ilog2(count+1)` from any count table), and each word segments
    * along the MINIMUM-total-cost path. Among min-cost paths the piece
    * COUNT is minimized, so the reported `(cost_bits, n_pieces)` value
    * is unique and engine-portable even where the argmin path is not —
    * that value contract is what the oracle hashes. Returns one row
    * per distinct word: `(word, n, ok, cost_bits, n_pieces)`;
    * `ok = false` (costs NULL) when no vocab concatenation spells the
    * word.
    *
    * Spark-first shape (the [[wordpieceSegment]] layout): ONE corpus
    * scan reduces text to the distinct-word table; candidate
    * `(position, piece)` substrings explode vocabulary-side
    * (|words|·len·maxPieceChars rows — corpus-independent); one vocab
    * join prices every candidate against the cut vocabulary (a
    * broadcast map-side probe iff its measured bytes fit
    * `spark.sql.autoBroadcastJoinThreshold`, a shuffle on the piece
    * string past that budget); and the per-word Viterbi is a
    * codegen'd `aggregate` HOF — forward DP over an array of
    * `cost·2²⁰ + pieces` keys, whose integer MIN is exactly the
    * lexicographic (cost, pieces) min. Pieces have length ≥ 1, so
    * relaxations from position `i` only ever reach positions `> i` and
    * the left-to-right pass is exact single-pass DP — O(len²) array
    * writes per word, no driver loop, no per-word shuffle.
    *
    * Encoding bound: a word's total path cost must stay below
    * `10¹⁵ / 2²⁰ ≈ 9.5·10⁸` bits (the unreachable sentinel over the
    * 2²⁰ piece field) — ilog2-convention costs are ≤ ~60/piece, so
    * even a 10⁶-piece word has headroom; callers supplying e6-scaled
    * costs (~10⁷/piece) are bounded to ~90-piece paths.
    */
  def unigramSegment(
      docs: DataFrame,
      vocab: DataFrame,
      maxPieceChars: Int = 16,
      textCol: String = "text"): DataFrame = {
    require(maxPieceChars >= 1, s"maxPieceChars must be >= 1, got $maxPieceChars")
    val costs = Checkpoints.cut(
      vocab.select(col("piece"), col("cost_bits").cast("long").as("cb")), None)
    val words = docs.select(explode(tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
    val cands = words.select(col("word"),
      explode(expr(
        s"""flatten(transform(sequence(0, length(word) - 1), p ->
           |  transform(sequence(1, least($maxPieceChars, length(word) - p)), l ->
           |    struct(cast(p as bigint) as p, cast(l as bigint) as l,
           |      substring(word, p + 1, l) as piece))))""".stripMargin)).as("c"))
      .select(col("word"), col("c.p").as("p"), col("c.l").as("l"),
        col("c.piece").as("piece"))
    val priced = cands
      .join(costs, Seq("piece"))
      .groupBy(col("word"), col("p"))
      .agg(collect_list(struct(col("l"), col("cb"))).as("opts"))
      .groupBy(col("word"))
      .agg(map_from_entries(collect_list(struct(col("p"), col("opts")))).as("m"))
    words.join(priced, Seq("word"), "left_outer")
      .withColumn("m", coalesce(col("m"),
        expr("cast(map() as map<bigint, array<struct<l: bigint, cb: bigint>>>)")))
      .withColumn("best", expr(
        """aggregate(
          |  sequence(cast(0 as bigint), cast(length(word) - 1 as bigint)),
          |  concat(array(cast(0 as bigint)),
          |         transform(sequence(1, length(word)),
          |                   x -> cast(1000000000000000 as bigint))),
          |  (acc, i) -> case
          |    when element_at(acc, cast(i as int) + 1) >= 1000000000000000 then acc
          |    else aggregate(
          |      coalesce(element_at(m, i),
          |               cast(array() as array<struct<l: bigint, cb: bigint>>)),
          |      acc,
          |      (a, o) -> transform(a, (e, j) ->
          |        case when j = cast(i + o.l as int)
          |              and element_at(a, cast(i as int) + 1) + o.cb * 1048576 + 1 < e
          |             then element_at(a, cast(i as int) + 1) + o.cb * 1048576 + 1
          |             else e end))
          |  end,
          |  acc -> element_at(acc, cast(length(word) as int) + 1))""".stripMargin))
      .select(col("word"), col("n"),
        (col("best") < lit(1000000000000000L)).as("ok"),
        when(col("best") < lit(1000000000000000L),
          expr("best div 1048576")).as("cost_bits"),
        when(col("best") < lit(1000000000000000L),
          pmod(col("best"), lit(1048576L))).as("n_pieces"))
  }

  /** Unigram-LM VOCABULARY TRAINING (Kudo 2018, "Subword
    * Regularization" §3 — the SentencePiece trainer), deterministic
    * hard-EM realization: [[unigramSegment]] is the inference quadrant
    * (fixed scored vocab → Viterbi segmentation); this is the missing
    * training quadrant that PRODUCES the scored vocab. Per epoch over
    * the distinct-word table:
    *
    *  1. E-step: Viterbi-segment every word under the current integer
    *     piece costs. Instead of carrying paths through the DP, run
    *     the FORWARD packed DP (`f[i]` = min cost of 0..i) and the
    *     BACKWARD one (`b[i]` = min cost of i..end) and count a
    *     candidate slot `(p, l)` as used iff
    *     `f[p] + pack(piece) + b[p+l] = f[len]` — the slot lies on an
    *     optimal segmentation (packed `cost·2²⁰ + npieces` values add
    *     across concatenation, so the equality is exact). Ties credit
    *     every co-optimal slot — the deterministic, engine-exact
    *     stand-in for Kudo's expected counts, weighted by word
    *     frequency.
    *  2. M-step: re-price pieces from the usage counts
    *     (`cost_bits = ilog2(tot+1) − ilog2(cnt+1)`, the
    *     [[bigramLmScore]] whole-bit convention).
    *  3. PRUNE: keep the `vocabSize` highest-usage pieces (count desc,
    *     piece asc — deterministic) plus ALL single characters (Kudo's
    *     coverage guarantee: every word stays segmentable, so the next
    *     E-step never strands a word).
    *
    * Seed vocabulary: substrings of length ≤ `maxPieceChars` present
    * in ≥ `minPieceWords` distinct words, UNIONED with every single
    * character (coverage from epoch one), priced by distinct-word
    * counts — the [[unigramSegment]] seed rule made self-sufficient.
    *
    * Output: the trained `(piece, cnt, cost_bits)` table — feed it
    * straight into [[unigramSegment]] (spec-pinned composition).
    *
    * 100 TB shape: the corpus is touched ONCE (the word-count scan);
    * every epoch thereafter works on the distinct-WORD table (Heaps-
    * law-bounded) and the vocabulary-sized piece tables. Both DPs are
    * single in-row aggregate-HOF expressions (codegen, no UDF); the
    * candidate join broadcasts the vocabulary; the prune window is a
    * single-partition sort over a vocabulary-sized frame — bounded by
    * construction, the [[pplBuckets]] histogram argument.
    */
  def unigramTrain(
      docs: DataFrame,
      vocabSize: Int = 64,
      epochs: Int = 2,
      maxPieceChars: Int = 3,
      minPieceWords: Int = 2,
      textCol: String = "text",
      checkpointDir: Option[String] = None): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    require(epochs >= 1, s"epochs must be >= 1, got $epochs")
    require(maxPieceChars >= 1, s"maxPieceChars must be >= 1, got $maxPieceChars")
    import org.apache.spark.sql.expressions.Window
    val ilog2 = (c: Column) => (length(bin(c)) - 1).cast("long")
    val Inf = 1000000000000000L
    val words = Checkpoints.cut(
      docs.select(explode(tokens(col(textCol))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("n")),
      checkpointDir)
    // every candidate slot (word, p, l, piece) — shared by all epochs
    val cands = Checkpoints.cut(
      words.select(col("word"),
        explode(expr(
          s"""flatten(transform(sequence(0, length(word) - 1), p ->
             |  transform(sequence(1, least($maxPieceChars, length(word) - p)), l ->
             |    struct(cast(p as bigint) as p, cast(l as bigint) as l,
             |      substring(word, p + 1, l) as piece))))""".stripMargin)).as("c"))
        .select(col("word"), col("c.p").as("p"), col("c.l").as("l"),
          col("c.piece").as("piece")),
      checkpointDir)
    def score(counted: DataFrame): DataFrame =
      counted.crossJoin(broadcast(
          counted.agg(coalesce(sum(col("cnt")), lit(0L)).as("tot"))))
        .select(col("piece"), col("cnt"),
          (ilog2(col("tot") + 1) - ilog2(col("cnt") + 1)).as("cost_bits"))
    val pieceWords = cands.select(col("word"), col("piece")).distinct()
      .groupBy(col("piece")).agg(count(lit(1)).cast("long").as("cnt"))
    var vocab = Checkpoints.cut(
      score(pieceWords.filter(
        col("cnt") >= minPieceWords || length(col("piece")) === 1)),
      checkpointDir)
    for (_ <- 1 to epochs) {
      val priced = cands.join(
        broadcast(vocab.select(col("piece"), col("cost_bits").as("cb"))),
        Seq("piece"))
      val optsMap = priced
        .groupBy(col("word"), col("p"))
        .agg(collect_list(struct(col("l"), col("cb"))).as("opts"))
        .groupBy(col("word"))
        .agg(map_from_entries(collect_list(struct(col("p"), col("opts")))).as("m"))
      // forward/backward packed DPs as FULL arrays (index i+1 = min
      // packed cost of the prefix 0..i / suffix i..end) — the
      // unigramSegment DP with the final element-extraction dropped
      val dp = words.join(optsMap, Seq("word"))
        .withColumn("f", expr(
          s"""aggregate(
             |  sequence(cast(0 as bigint), cast(length(word) - 1 as bigint)),
             |  concat(array(cast(0 as bigint)),
             |         transform(sequence(1, length(word)),
             |                   x -> cast($Inf as bigint))),
             |  (acc, i) -> case
             |    when element_at(acc, cast(i as int) + 1) >= $Inf then acc
             |    else aggregate(
             |      coalesce(element_at(m, i),
             |               cast(array() as array<struct<l: bigint, cb: bigint>>)),
             |      acc,
             |      (a, o) -> transform(a, (e, j) ->
             |        case when j = cast(i + o.l as int)
             |              and element_at(a, cast(i as int) + 1) + o.cb * 1048576 + 1 < e
             |             then element_at(a, cast(i as int) + 1) + o.cb * 1048576 + 1
             |             else e end))
             |  end)""".stripMargin))
        .withColumn("b", expr(
          s"""aggregate(
             |  sequence(cast(length(word) - 1 as bigint), cast(0 as bigint),
             |           cast(-1 as bigint)),
             |  concat(transform(sequence(1, length(word)),
             |                   x -> cast($Inf as bigint)),
             |         array(cast(0 as bigint))),
             |  (acc, i) -> aggregate(
             |    coalesce(element_at(m, i),
             |             cast(array() as array<struct<l: bigint, cb: bigint>>)),
             |    acc,
             |    (a, o) -> transform(a, (e, j) ->
             |      case when j = cast(i as int)
             |            and element_at(a, cast(i + o.l as int) + 1) + o.cb * 1048576 + 1 < e
             |           then element_at(a, cast(i + o.l as int) + 1) + o.cb * 1048576 + 1
             |           else e end)))""".stripMargin))
        .select(col("word"), col("n"), col("f"), col("b"))
      val fEnd = element_at(col("f"), (length(col("word")) + 1).cast("int"))
      val used = priced
        .join(dp, Seq("word"))
        .filter(fEnd < Inf &&
          element_at(col("f"), (col("p") + 1).cast("int")) +
            col("cb") * 1048576L + 1L +
            element_at(col("b"), (col("p") + col("l") + 1).cast("int")) === fEnd)
        .groupBy(col("piece")).agg(sum(col("n")).as("cnt"))
      // single chars survive every prune (coverage), at their true —
      // possibly zero — usage
      val chars = vocab.filter(length(col("piece")) === 1).select(col("piece"))
      val counted = chars.join(used, Seq("piece"), "left_outer")
        .select(col("piece"), coalesce(col("cnt"), lit(0L)).as("cnt"))
        .unionByName(used.join(chars, Seq("piece"), "left_anti"))
      // single-partition window is SAFE: `counted` is vocabulary-sized
      val w = Window.orderBy(col("cnt").desc, col("piece").asc)
      val pruned = counted.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= vocabSize || length(col("piece")) === 1)
        .select(col("piece"), col("cnt"))
      vocab = Checkpoints.cut(score(pruned), checkpointDir)
    }
    vocab
  }

  /** DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every
    * document by how much more likely its hashed-bigram features are
    * under the TARGET slice's feature distribution than under the raw
    * corpus's. The published method fits two bag-of-hashed-ngrams
    * unigram models and weights by the log-likelihood ratio; this
    * operator is that estimator with the repo's integer-exactness
    * contract: all logs are `ilog2(n) = floor(log2 n) =
    * length(bin(n)) − 1` whole bits (same convention as
    * [[bigramLmScore]]), add-one smoothing on bucket counts, so the
    * weight is
    *
    * {{{
    * weight_bits = Σ_f [ilog2(c_t(b_f)+1) − ilog2(c_r(b_f)+1)]
    *               − n_feats·[ilog2(N_t+B) − ilog2(N_r+B)]
    * }}}
    *
    * where `c_t/c_r` are target/raw instance counts of the feature's
    * bucket, `N_t/N_r` the total instance counts and `B = buckets`
    * (the Laplace normalizers of the two models). Positive ⇒ the doc
    * looks more target-like than the corpus at large.
    *
    * The reference pipeline has no data-selection stage at all
    * (`cmd/etl/etl.go` ships every fetched doc); this is engine-added
    * curation surface alongside the quality / LM screens.
    *
    * 100 TB shape: TWO scans, ZERO pinned state. Scan 1 reduces text
    * to `(bucket, is_target)` via the fused native shingle kernel and
    * aggregates the bucket model — at most `B` rows, collected to the
    * driver (a bounded collect, same contract as the k-means
    * centroid / PQ codebook collects; `B ≪ corpus` by construction).
    * The Laplace normalizers fold out of that same model on the
    * driver, so `norm_bits` is a plan literal. Scan 2 re-derives the
    * instances and joins them against the broadcast model — per-doc
    * aggregation shuffles only 8-byte keys; token text never
    * shuffles. Caching the instance frame instead (one row per token
    * occurrence — corpus-sized) would pin ~10¹³ rows at the target
    * scale; one extra columnar scan is the cheaper side of that trade
    * at every scale, and nothing survives the call.
    *
    * `isTarget` is null-coalesced to false once, so a null-evaluating
    * row is a non-target row in the counts AND in the output
    * `is_target` column (consistent, documented semantics).
    *
    * Output: `(doc_id, is_target, n_feats, weight_bits)`; docs with
    * no bigrams weight 0 (no evidence either way).
    */
  def dsirWeights(
      docs: DataFrame,
      isTarget: Column,
      buckets: Int = 4096,
      textCol: String = "text",
      idCol: String = "doc_id",
      hash: Hashing.HashTier = Hashing.Fast): DataFrame = {
    require(buckets > 0, s"dsirWeights: buckets must be positive, got $buckets")
    import graft.functions.NativeOps.shingleHashes
    val isT = coalesce(isTarget, lit(false))
    def ilog2(c: Column): Column = (length(bin(c)) - 1).cast("long")
    // exact driver twin of the column ilog2: floor(log2 n), 0 at n=0
    def ilog2L(n: Long): Long = if (n <= 0) 0L else 63L - java.lang.Long.numberOfLeadingZeros(n)
    // one row per bigram instance, reduced to its feature bucket —
    // derived twice (scan 1 + scan 2), cached never
    def inst = docs.select(
        col(idCol).as("doc_id"),
        isT.as("is_t"),
        explode(shingleHashes(col(textCol), 2, hash.portable)).as("sh"))
      .select(col("doc_id"), col("is_t"), pmod(col("sh"), lit(buckets.toLong)).as("b"))
    // scan 1: the bucket model, ≤ B rows (bounded driver collect)
    val model = inst.groupBy(col("b")).agg(
        count(lit(1)).as("cr"),
        sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"))
      .collect()
    val (nr, nt) = model.foldLeft((0L, 0L)) { case ((r, t), row) =>
      (r + row.getLong(1), t + row.getLong(2)) }
    // Laplace normalizers of the two models — a driver-side literal
    val normBits = ilog2L(nt + buckets) - ilog2L(nr + buckets)
    val spark = docs.sparkSession
    val modelDf = spark.createDataFrame(
      spark.sparkContext.parallelize(model.toIndexedSeq, 1),
      new org.apache.spark.sql.types.StructType()
        .add("b", "long").add("cr", "long").add("ct", "long"))
    // scan 2: per-doc evidence against the broadcast model
    val perDoc = inst
      .join(broadcast(modelDf), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_feats"),
        sum(ilog2(col("ct") + 1) - ilog2(col("cr") + 1)).as("s_bits"))
    docs.select(col(idCol).as("doc_id"), isT.as("is_target"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        col("is_target"),
        coalesce(col("n_feats"), lit(0L)).cast("long").as("n_feats"),
        coalesce(col("s_bits") - col("n_feats") * lit(normBits), lit(0L))
          .cast("long").as("weight_bits"))
  }

  /** Deterministic importance SELECTION over [[dsirWeights]] — the
    * τ→0 limit of DSIR's Gumbel-top-k resampling: take the `k`
    * highest-weight documents, ties broken by `doc_id` so the output
    * is a total order. (For a spread-out stochastic sample at equal
    * weights, compose weights with [[weightedSample]]'s A-ES instead —
    * this entry point is the "give me the k most target-like docs"
    * budget cut a curation DAG actually runs.)
    *
    * 100 TB shape: global top-k over per-doc longs —
    * `TakeOrderedAndProject`, per-partition heaps, no full sort.
    */
  def dsirSample(
      docs: DataFrame,
      isTarget: Column,
      k: Int,
      buckets: Int = 4096,
      textCol: String = "text",
      idCol: String = "doc_id",
      hash: Hashing.HashTier = Hashing.Fast): DataFrame =
    dsirWeights(docs, isTarget, buckets, textCol, idCol, hash)
      .orderBy(col("weight_bits").desc, col("doc_id").asc)
      .limit(k)

  /** Precision/recall curve over the [[dsirWeights]] importance
    * scores — the threshold-selection diagnostic for hash-bucket
    * importance sampling: one row per DISTINCT `weight_bits` value
    * `t`, reporting how a "keep every doc scoring ≥ t" cut performs
    * against the target label. `tp`/`fp` are ≥-threshold counts,
    * `fn = targets below t`; `precision_e6 = tp·10⁶ div (tp+fp)`,
    * `recall_e6 = tp·10⁶ div n_targets` — integer-exact, so the
    * oracle replicates bit-for-bit. Rows ascend by threshold; recall
    * is monotone non-increasing in `t` by construction (spec law).
    *
    * Scale shape: one per-score count aggregate (map-side combined,
    * 8-byte keys), then a single cumulative window over the DISTINCT
    * score values — the curve frame is |distinct weight_bits| rows
    * (integer bit-sums, naturally narrow), not corpus rows. The
    * unpartitioned cumulative window is therefore bounded by the
    * score cardinality; a corpus whose score space is genuinely huge
    * pre-buckets `weight_bits` before calling (the same floor-to-grid
    * discipline as the histogram ops).
    */
  def dsirPrCurve(
      docs: DataFrame,
      isTarget: Column,
      buckets: Int = 4096,
      textCol: String = "text",
      idCol: String = "doc_id",
      hash: Hashing.HashTier = Hashing.Fast): DataFrame = {
    val w = dsirWeights(docs, isTarget, buckets, textCol, idCol, hash)
    val per = w.groupBy(col("weight_bits").as("threshold_bits"))
      .agg(
        sum(when(col("is_target"), 1L).otherwise(0L)).as("n_t"),
        sum(when(col("is_target"), 0L).otherwise(1L)).as("n_f"))
    val cum = org.apache.spark.sql.expressions.Window
      .orderBy(col("threshold_bits").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    per
      .withColumn("tp", sum(col("n_t")).over(cum))
      .withColumn("fp", sum(col("n_f")).over(cum))
      .withColumn("n_targets", sum(col("n_t")).over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("threshold_bits").desc)
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.unboundedFollowing)))
      .select(
        col("threshold_bits"),
        col("tp"), col("fp"),
        (col("n_targets") - col("tp")).as("fn"),
        expr("tp * 1000000 div (tp + fp)").as("precision_e6"),
        // n_targets = 0 (no target docs at all) degenerates to recall 0
        // rather than an ANSI division error
        when(col("n_targets") > 0, expr("tp * 1000000 div n_targets"))
          .otherwise(0L).as("recall_e6"))
  }

  /** Whole-document rolling-hash fingerprint. `hash` defaults to the
    * xxhash64 fast path; pass [[Hashing.portableHash]] for
    * engine-portable values.
    */
  def fingerprint(
      docs: DataFrame,
      textCol: String = "text",
      hash: Hashing.HashTier = Hashing.Fast): DataFrame =
    docs.select(col("doc_id"), hash(col(textCol)).as("fp"))

  /** Deterministic train/val/test split by content hash — the
    * reproducible alternative to `rand()` sampling: the same document
    * lands in the same split on every run, every engine, any partition
    * layout. Buckets are permille of the hash ring; splits are
    * `[0,train)` → train, `[train,train+val)` → val, rest → test.
    */
  def hashSplit(
      docs: DataFrame,
      trainPermille: Int,
      valPermille: Int,
      textCol: String = "text",
      hash: Hashing.HashTier = Hashing.Fast): DataFrame = {
    require(trainPermille + valPermille <= 1000)
    splitFromBucket(
      docs.select(col("doc_id"), pmod(hash(col(textCol)), lit(1000L)).as("bucket")),
      trainPermille, valPermille)
  }

  /** Deterministic global shuffle into training shards — the final
    * step of every training-data pipeline: assign each document a
    * pseudo-random 64-bit position (portable hash of `salt:doc_id`),
    * route it to `pos mod nShards`, and number it within its shard in
    * position order. The same corpus + salt yields the same
    * permutation on every run, every engine, any partition layout —
    * reshuffling between epochs is just a new salt, with no RNG state
    * to coordinate across 1000 executors.
    *
    * Scale shape: one narrow hash projection, ONE shuffle keyed on
    * the 8-byte shard id, and a per-shard sort for the within-shard
    * numbering — exactly the partition-and-sort a shard writer needs
    * anyway (`df.repartition(shard).sortWithinPartitions(pos)`), so
    * the operator's plan IS the write plan. No global sort. Size
    * `nShards` so corpus/nShards rows fit a task (the same rule as
    * output-file sizing).
    *
    * Output: `(doc_id, pos, shard, pos_in_shard)`; `pos` doubles as
    * the global permutation key (order by `pos, doc_id` reproduces
    * the unsharded shuffle).
    */
  def shardShuffle(
      docs: DataFrame,
      nShards: Int,
      salt: String = "graft",
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nShards > 0, s"shardShuffle: nShards must be positive, got $nShards")
    val w = Window.partitionBy(col("shard")).orderBy(col("pos").asc, col("doc_id").asc)
    docs
      .select(
        col(idCol).as("doc_id"),
        Hashing.portableHash(
          concat(lit(salt), lit(":"), col(idCol).cast("string"))).as("pos"))
      .withColumn("shard", pmod(col("pos"), lit(nShards.toLong)))
      .withColumn("pos_in_shard", row_number().over(w).cast("long"))
  }

  /** Split assignment from an already-computed permille bucket —
    * shared by [[hashSplit]] and callers that carry the content hash
    * forward instead of re-scanning the corpus.
    */
  private[graft] def splitFromBucket(
      df: DataFrame, trainPermille: Int, valPermille: Int): DataFrame =
    df.select(
      col("doc_id"),
      col("bucket"),
      when(col("bucket") < trainPermille, "train")
        .when(col("bucket") < trainPermille + valPermille, "val")
        .otherwise("test").as("split"))

  /** Curation top-k: the `k` highest-quality documents per group
    * (e.g. per language × source) — quality-score ranking with a
    * deterministic id tiebreak; the standard "keep the best N per
    * stratum" selection.
    */
  def qualityTopK(docs: DataFrame, groupCols: Seq[String], k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = qualityScore(docs).select(
      col("doc_id"), col("n_tokens"), col("alpha_ratio_e3"))
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("alpha_ratio_e3").desc, col("doc_id").asc)
    docs.select((groupCols.map(col) :+ col("doc_id")): _*)
      .join(q, Seq("doc_id"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
  }

  /** Per-source quota sampling: keep at most `k` documents per value of
    * `groupCol`, chosen as a *uniform deterministic sample* — ranked by
    * content hash (tiebroken by id), so the same documents survive on
    * every run, engine, and partition layout. This is the standard
    * "cap each domain/dump at N docs" mixing step in pretraining-corpus
    * assembly (no `rand()`, which would be irreproducible under
    * retries).
    *
    * Scale shape: one shuffle on `groupCol`; the `row_number <= k`
    * filter gets a partial WindowGroupLimit below the exchange
    * (Spark 4 InferWindowGroupLimit), so each map task forwards at most
    * `k` rows per group — a skewed mega-domain never materializes past
    * the scan.
    */
  def domainQuota(
      docs: DataFrame,
      groupCol: String = "source",
      k: Int = 10,
      textCol: String = "text",
      hash: Hashing.HashTier = Hashing.Fast,
      keepKey: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("hkey").asc, col("doc_id").asc)
    val ranked = docs
      .select(col("doc_id"), col(groupCol), hash(col(textCol)).as("hkey"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
    // keepKey exposes the already-computed content hash so downstream
    // stages (e.g. the split assignment in Curation) can derive their
    // buckets without re-scanning and re-hashing the corpus
    if (keepKey) ranked.select(col("doc_id"), col(groupCol), col("rn"), col("hkey"))
    else ranked.select(col("doc_id"), col(groupCol), col("rn"))
  }

  /** Corpus vocabulary top-k: the `k` most frequent whitespace tokens
    * with their counts — the first pass of tokenizer/vocab induction.
    * Deterministic total order: count desc, token asc.
    *
    * Scale shape: explode is a narrow generator; the count aggregate is
    * map-side-combined on the token key; the global top-k is
    * `TakeOrderedAndProject` (per-partition heads only — no global
    * sort materializes).
    */
  def vocabTopK(docs: DataFrame, k: Int = 20, textCol: String = "text"): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok").asc)
      .limit(k)

  /** Out-of-vocabulary rate per document against a fixed vocabulary —
    * the tokenizer-coverage metric that decides whether a corpus slice
    * needs vocab extension (or the slice is noise). Pure narrow
    * projection: `n_oov` is `size(filter(tokens, !array_contains))`
    * against a LITERAL vocab array — no explode, no (doc, token)
    * shuffle, the `vocabTopK` device in reverse. Output
    * `(doc_id, n_tokens, n_oov, oov_e3)`; empty docs pin `oov_e3 = 0`.
    */
  def oovRate(docs: DataFrame, vocab: Seq[String],
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(vocab.nonEmpty, "oovRate needs a non-empty vocabulary")
    val toks = tokens(col(textCol))
    val vlit = typedLit(vocab)
    docs.select(
      col(idCol),
      size(toks).cast("long").as("n_tokens"),
      size(filter(toks, t => !array_contains(vlit, t))).cast("long").as("n_oov"))
      .withColumn("oov_e3",
        when(col("n_tokens") > 0,
          floor(col("n_oov") * 1000 / col("n_tokens")).cast("long"))
          .otherwise(0L))
  }

  /** Token-diversity (Gini impurity) per document — the
    * entropy-family quality signal without the transcendental: for
    * token multiplicities `c_i` over `n` tokens,
    * `gini_e6 = 10^6 · (n² − Σc_i²) div n²` (0 = one token repeated,
    * → 10^6 · (1 − 1/n) = all distinct). Monotone with Shannon
    * entropy on the distributions that matter for boilerplate/spam
    * screening, and exact-integer portable where `-Σ p·ln p` is not.
    * Output `(doc_id, n_tokens, n_distinct, gini_e6)`; empty docs pin
    * `gini_e6 = 0`.
    *
    * Scale shape: explode → (doc, token-hash) count → per-doc sum of
    * squares; both aggregates map-side-combine, the second shuffles
    * 8-byte doc keys. Token text shuffles as the grouping key of the
    * first aggregate — acceptable where [[repetitionStats]]' fused
    * bigram kernel is not reusable (multiplicities need exact
    * per-token counts, and the hash keeps keys 8 bytes when callers
    * pass `hash`-keyed mode downstream).
    */
  def tokenGini(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val counts = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).as("c"))
    counts
      .groupBy(col(idCol))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("c") * col("c")).as("ss"))
      .select(col(idCol), col("n_tokens"), col("n_distinct"),
        expr("(1000000 * (n_tokens*n_tokens - ss)) div (n_tokens*n_tokens)")
          .as("gini_e6"))
      // docs with zero tokens produce no count rows: restore them with
      // the pinned zero row (left join against the corpus)
      .join(docs.select(col(idCol)), Seq(idCol), "right_outer")
      .na.fill(0L, Seq("n_tokens", "n_distinct", "gini_e6"))
  }

  /** Corpus mixing plan — the "how much of each source goes into the
    * final mixture" computation every pretraining run starts with.
    * Given target permille weights per source, finds the LARGEST total
    * token budget the corpus can realize at those weights (the most
    * token-constrained source binds: `budget = min_s (have_s·1000) div
    * target_s`), then each targeted source's token take and sampling
    * rate. All-integer pinned arithmetic. Output per targeted source:
    * `(source, have_tok, target_permille, take_tok, rate_e3)` — the
    * binding source has `rate_e3 = 1000`, everything else downsamples.
    * Sources not in `targets` are excluded (weight 0 by construction).
    *
    * Scale shape: one grouped token-count aggregate over the corpus;
    * the targets and the scalar budget ride broadcast joins — metadata
    * -sized everything after the scan.
    */
  def mixPlan(
      docs: DataFrame,
      targets: Seq[(String, Int)],
      textCol: String = "text",
      srcCol: String = "source"): DataFrame = {
    require(targets.nonEmpty && targets.forall(_._2 > 0),
      "targets must be non-empty with positive permilles")
    require(targets.map(_._1).distinct.size == targets.size, "duplicate target source")
    val spark = docs.sparkSession
    import spark.implicits._
    val tgt = targets.toDF("source", "tp")
      .select(col("source"), col("tp").cast("long").as("target_permille"))
    val have = docs.groupBy(col(srcCol).as("source"))
      .agg(sum(size(tokens(col(textCol))).cast("long")).as("have_tok"))
    val j = have.join(broadcast(tgt), Seq("source"))
    val budget = j.agg(
      min(expr("(have_tok * 1000) div target_permille")).as("budget"))
    j.join(broadcast(budget))
      .select(col("source"), col("have_tok"), col("target_permille"),
        expr("(budget * target_permille) div 1000").as("take_tok"))
      .withColumn("rate_e3",
        expr("least(CAST(1000 AS BIGINT), (take_tok * 1000) div have_tok)"))
  }

  /** [[oovRate]] against the corpus's own top-`k` vocabulary
    * ([[vocabTopK]] order: count desc, token asc). The vocab collect is
    * k-bounded (the centroid-literal justification), so the scoring
    * pass stays a narrow projection over any corpus size.
    */
  def oovRateTopVocab(docs: DataFrame, k: Int = 20,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val vocab = vocabTopK(docs, k, textCol).collect().map(_.getString(0)).toSeq
    if (vocab.isEmpty)
      docs.select(col(idCol), lit(0L).as("n_tokens"), lit(0L).as("n_oov"),
        lit(0L).as("oov_e3")).limit(0)
    else oovRate(docs, vocab, textCol, idCol)
  }

  /** Fixed-size strided character chunking — the "split long documents
    * into overlapping training context windows" step. Emits one row per
    * chunk at offsets `0, stride, 2·stride, … < length(text)`; the last
    * chunk may be short (`chunk_len = min(chunkLen, n - off)`).
    * `chunk_hash` carries the content fingerprint so downstream
    * chunk-level dedup never needs the chunk text.
    *
    * Scale shape: pure narrow generator projection (sequence + explode
    * + substr) — no shuffle, chunk text never leaves the row unless the
    * caller selects it.
    */
  def charChunks(
      docs: DataFrame,
      chunkLen: Int = 64,
      stride: Int = 48,
      textCol: String = "text",
      hash: Hashing.HashTier = Hashing.Fast): DataFrame = {
    require(chunkLen > 0 && stride > 0, "chunkLen and stride must be positive")
    val chunk = col("__t").substr(col("off").cast("int") + 1, lit(chunkLen))
    docs.select(col("doc_id"), col(textCol).as("__t"))
      .filter(length(col("__t")) > 0)
      .select(
        col("doc_id"), col("__t"),
        explode(sequence(lit(0L), length(col("__t")).cast("long") - 1, lit(stride.toLong)))
          .as("off"))
      .select(
        col("doc_id"),
        col("off"),
        (col("off") / stride).cast("long").as("chunk_idx"),
        length(chunk).cast("long").as("chunk_len"),
        hash(chunk).as("chunk_hash"))
  }

  /** Per-group document-length quartiles — the corpus-audit statistic
    * every ingestion run reports (spot truncated dumps / boilerplate
    * sources by their length distribution). Exact interpolated
    * quantiles at the *dyadic* points 0.25/0.5/0.75: `(n−1)·p` and the
    * interpolation fraction are exact in binary for dyadic `p`, so the
    * doubles are bit-identical on every engine regardless of the
    * interpolation formula's association — then scaled ×100 into
    * BIGINTs (quartiles of integers are multiples of 0.25).
    *
    * Scale shape: one shuffle on the group key; Spark's `percentile`
    * is a typed imperative aggregate with partial merge (a counts-map
    * per group, fine for bounded length domains; for unbounded domains
    * switch to `approx_percentile`).
    */
  def lengthQuartiles(
      docs: DataFrame,
      groupCol: String = "source",
      lenCol: String = "n_chars"): DataFrame = {
    def q(p: Double, name: String) =
      floor(expr(s"percentile($lenCol, $p)") * 100 + 0.5).cast("long").as(name)
    docs.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_docs"),
        q(0.25, "p25_e2"), q(0.5, "p50_e2"), q(0.75, "p75_e2"))
  }

  /** TF-IDF top-`k` terms per document, in *exact integer arithmetic*:
    * `score_e3 = (tf · 1000 · n_docs) div df` — a rational-idf variant
    * (`idf = N/df` instead of `ln(N/df)`) that is rank-equivalent for
    * fixed tf and avoids cross-engine libm divergence in the last ulp.
    * Ties break by token asc; output `(doc_id, tok, tf, score_e3, rn)`.
    *
    * Scale shape: tf is a map-side-combined (doc, token) aggregate; df
    * reuses tf's output grouped by token (8-byte-ish keys, no text
    * bodies after the first agg); `n_docs` is a broadcast single-row
    * frame, not a driver-side collect; the per-doc top-k gets a partial
    * WindowGroupLimit below the exchange.
    */
  def tfidfTopK(docs: DataFrame, k: Int = 3, textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs.select(col("doc_id"), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nDocs = docs.select(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_e3").desc, col("tok").asc)
    tf.join(dfreq, Seq("tok"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score_e3", expr("(tf * 1000 * n_docs) div df"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("tok"), col("tf"), col("score_e3"), col("rn"))
  }

  /** Rate-based stratified sampling — keep each stratum (language,
    * source, …) at its own sampling rate, e.g. downsample web crawl to
    * 30% while keeping books at 100%. The complement of
    * [[domainQuota]]: rates instead of absolute caps, so the sample
    * scales with the stratum.
    *
    * Deterministic: a document survives iff its content-hash permille
    * bucket falls below the stratum's rate — rerun-stable, engine-
    * portable, and *nested* (the rate-500 sample is a superset of the
    * rate-250 sample, so mixture re-weighting never reshuffles already-
    * selected data — the property `rand() < p` sampling lacks under
    * retries).
    *
    * Scale shape: pure narrow filter, no shuffle; the when-chain rate
    * lookup is codegen'd (strata lists are small and driver-bounded by
    * construction — same literal-lookup rule as the IVF centroids).
    */
  def stratifiedSample(
      docs: DataFrame,
      rates: Seq[(String, Int)],
      defaultPermille: Int,
      groupCol: String = "lang",
      textCol: String = "text",
      hash: Hashing.HashTier = Hashing.Fast): DataFrame = {
    require(defaultPermille >= 0 && defaultPermille <= 1000, "defaultPermille in [0,1000]")
    require(rates.forall { case (_, p) => p >= 0 && p <= 1000 }, "rates in [0,1000]")
    val rate = rates.foldRight(lit(defaultPermille)) { case ((g, p), acc) =>
      when(col(groupCol) === g, lit(p)).otherwise(acc)
    }
    docs.select(col("doc_id"), col(groupCol),
        pmod(hash(col(textCol)), lit(1000L)).as("bucket"))
      .filter(col("bucket") < rate)
  }

  /** Deterministic weighted sampling without replacement: keep the `k`
    * documents per stratum with the smallest priority
    * `hash(text) div max(weight, 1)` — an integer rendition of the
    * exponential-keys / A-ES trick (priority ~ u^(1/w) ranking): a
    * document with twice the weight halves its priority scale, so
    * higher-weight documents win proportionally more of the k slots,
    * yet selection stays content-deterministic (rerun-, retry- and
    * engine-stable; no `rand()`). The pretraining use: sample a fixed
    * budget per source weighted by a quality score, instead of
    * [[domainQuota]]'s uniform cap.
    *
    * Scale shape: identical to [[domainQuota]] — one shuffle on the
    * stratum key; `row_number <= k` gets the partial WindowGroupLimit
    * below the exchange, so a mega-stratum forwards at most k rows per
    * map task.
    */
  def weightedSample(
      docs: DataFrame,
      weight: Column,
      groupCol: String = "source",
      k: Int = 10,
      textCol: String = "text",
      hash: Hashing.HashTier = Hashing.Fast): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("priority").asc, col("doc_id").asc)
    docs
      // pmod first: a non-negative dividend makes Spark's truncating
      // `div` and DuckDB's flooring `//` agree
      .select(col("doc_id"), col(groupCol),
        pmod(hash(col(textCol)), lit(Hashing.P)).as("__h"),
        greatest(weight.cast("long"), lit(1L)).as("__w"))
      .select(col("doc_id"), col(groupCol), expr("__h div __w").as("priority"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
  }

  /** Token-budget sequence packing — the "concatenate documents, split
    * at context-window boundaries" step that turns a curated corpus
    * into fixed-length training sequences (GPT-style packing: documents
    * may span a boundary; nothing is padded or dropped).
    *
    * Documents are routed to `nShards` independent pack streams by
    * content-free id hash, ordered by `doc_id` within a shard, and laid
    * end-to-end; sequence `s` of a shard covers token interval
    * `[s·budget, (s+1)·budget)`. Emits one row per (document, sequence)
    * overlap: `toks_in_seq` is the portion of the document landing in
    * that sequence (sums to `n_tok` over the document, and to ≤budget
    * over a sequence).
    *
    * Scale shape: the only shuffle is the window's hash-partition by
    * `shard` + in-partition sort by `doc_id` — packing an ordered
    * stream is inherently sequential, so the shard count IS the
    * parallelism knob (at 100 TB: thousands of shards, each a few GB).
    * The running total is a cumulative-sum window, the boundary fan-out
    * a narrow sequence+explode (a doc spans `⌈n_tok/budget⌉+1` seqs at
    * most — no quadratic blowup).
    */
  def packSequences(
      docs: DataFrame,
      budget: Int,
      nShards: Int,
      textCol: String = "text",
      idCol: String = "doc_id",
      hash: Hashing.HashTier = Hashing.Fast): DataFrame =
    packByCount(
      docs.select(col(idCol),
        size(tokens(col(textCol))).cast("long").as("n_tok")),
      budget, nShards, idCol, hash)

  /** [[packSequences]] over a PRECOMPUTED per-doc length column —
    * the form the tokenize→pack pipeline composes (lengths come from
    * the BPE segmentation vocabulary, not a whitespace count). Input:
    * `(idCol, n_tok)`. Same packing contract and scale shape.
    */
  def packByCount(
      counts: DataFrame,
      budget: Int,
      nShards: Int,
      idCol: String = "doc_id",
      hash: Hashing.HashTier = Hashing.Fast): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget > 0 && nShards > 0, "budget and nShards must be positive")
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts.select(
        col(idCol),
        pmod(hash(col(idCol).cast("string")), lit(nShards.toLong)).as("shard"),
        col("n_tok").cast("long").as("n_tok"))
      .filter(col("n_tok") > 0)
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("seq_id", explode(sequence(
        expr(s"(cum - n_tok) div $budget"), expr(s"(cum - 1) div $budget"))))
      .select(
        col(idCol), col("shard"), col("seq_id"),
        (least(col("cum"), (col("seq_id") + 1) * budget) -
          greatest(col("cum") - col("n_tok"), col("seq_id") * budget))
          .as("toks_in_seq"))
  }

  /** BM25 retrieval scoring of every document against a fixed query
    * term set, top-`k` by score — the lexical-retrieval sibling of the
    * embedding top-k ([[Similarity.cosineTopK]]), and the scorer a
    * RAG / data-selection pipeline runs over a curated corpus.
    *
    * All-integer pinned semantics (the library's exactness contract —
    * no transcendentals, so no libm divergence between engines):
    *  - `tf_t` = occurrences of term `t` (whitespace tokens, exact
    *    match); `dl` = doc token count; `N`, `df_t`, `totTok` corpus
    *    constants.
    *  - idf surrogate, e3-scaled: `idf_e3 = (1000·(2N − 2df + 1)) div
    *    (2df + 1)` — the BM25 idf argument `(N−df+0.5)/(df+0.5)`
    *    doubled to clear the halves, floored. Monotone-decreasing in
    *    df like log-idf; the log is deliberately dropped (pinned
    *    rational surrogate) to keep every engine bit-identical.
    *  - length norm, e3: `ln_e3 = 1000 − b_e3 + (b_e3·dl·N) div totTok`
    *    (`b·dl/avgdl` with `avgdl = totTok/N` cleared of the divide).
    *  - per-term score, e3: `(idf_e3·tf·(1000 + k1_e3)) div
    *    (tf·1000 + (k1_e3·ln_e3) div 1000)`; doc score = Σ terms.
    *
    * Scale shape: `tf` per query term is a narrow `size(filter(...))`
    * projection — the query set is small and fixed, so NO explode and
    * NO (doc, term) shuffle; `df`/`totTok` are one global aggregate
    * broadcast back (a 1-row frame); the only real shuffle is the
    * final top-k, which gets the partial WindowGroupLimit. Output:
    * `(doc_id, score_e3, rank)`, ties by doc_id.
    */
  def bm25TopK(
      docs: DataFrame,
      queryTerms: Seq[String],
      k: Int,
      k1E3: Long = 1200L,
      bE3: Long = 750L,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(queryTerms.nonEmpty, "bm25 needs at least one query term")
    require(queryTerms.distinct.size == queryTerms.size, "duplicate query terms")
    val toks = tokens(col(textCol))
    def tfCol(t: String): Column =
      size(filter(toks, x => x === lit(t))).cast("long")
    val perDoc = docs.select(
      col(idCol) +:
        size(toks).cast("long").as("dl") +:
        queryTerms.zipWithIndex.map { case (t, i) => tfCol(t).as(s"tf_$i") }: _*)
    // corpus constants in ONE aggregate; a 1-row frame joined back by
    // broadcast-nested-loop (no key, one row — effectively free)
    val aggs = count(lit(1)).as("n_docs") +:
      sum(col("dl")).as("tot_tok") +:
      queryTerms.indices.map(i =>
        sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val consts = perDoc.agg(aggs.head, aggs.tail: _*)
    val scored = perDoc.join(broadcast(consts))
      .withColumn("ln_e3",
        lit(1000L) - bE3 + expr(s"($bE3 * dl * n_docs) div tot_tok"))
      .withColumn("score_e3",
        queryTerms.indices.map { i =>
          expr(
            s"""CASE WHEN tf_$i > 0 THEN
               |  ((1000 * (2*n_docs - 2*df_$i + 1)) div (2*df_$i + 1)
               |    * tf_$i * (1000 + $k1E3))
               |  div (tf_$i * 1000 + ($k1E3 * ln_e3) div 1000)
               |ELSE CAST(0 AS BIGINT) END""".stripMargin)
        }.reduce(_ + _))
    // top-k via orderBy+limit (TakeOrderedAndProject: per-partition
    // partial top-k, no global sort); the rank window then runs over k
    // rows only, so its single-partition shape is harmless
    val top = scored.select(col(idCol), col("score_e3"))
      .orderBy(col("score_e3").desc, col(idCol).asc)
      .limit(k)
    val w = Window.orderBy(col("score_e3").desc, col(idCol).asc)
    top.withColumn("rank", row_number().over(w).cast("long"))
  }

  /** BM25 top-`k` per query over a query SET — the retrieval-pipeline
    * form of [[bm25TopK]], which pins one compile-time term list (one
    * column per term; right for a handful of fixed probes, wrong for a
    * pipeline scoring thousands of saved queries). Here queries are
    * DATA: a `(query_id, term)` frame, scored with the exact same
    * pinned integer semantics (rational idf surrogate, e3 length norm,
    * truncating div — see [[bm25TopK]]), so for a single-query set the
    * two agree row for row on every matching doc.
    *
    * One deliberate semantic difference: output contains only docs
    * matching ≥1 query term (every score is > 0). `bm25TopK` scores
    * the whole corpus, so it pads with zero-score docs when fewer than
    * `k` match — meaningless as retrieval output and unmergeable
    * across queries, so the set form drops them.
    *
    * Scale shape (the 100 TB story): the term vocabulary rides a
    * BROADCAST hash join — the "broadcast term map", with an O(1)
    * hash probe per token. The token explode feeding it is PIPELINED
    * inside whole-stage codegen straight into that probe: no
    * materialization, and non-matching tokens (the overwhelming
    * majority) die before any exchange. The only data that ever
    * shuffles is map-side-combined `(doc, dl, term) → tf` partial
    * counts for MATCHING tokens — the inverted index restricted to
    * the query vocabulary. Corpus constants are a 1-row broadcast;
    * per-term df a |vocab|-row broadcast; per-query fan-out joins the
    * tf rows against the broadcast query frame; and the final top-k
    * per query gets the `WindowGroupLimit` per-partition partial
    * before the `query_id` shuffle. Nothing driver-side, nothing
    * O(corpus) wide.
    *
    * Broadcast or shuffle is measured, not chosen by the caller: the
    * distinct `(query_id, term)` frame is cut once
    * ([[Checkpoints.cut]]), and [[Checkpoints.broadcastRule]] off that
    * cut hints the vocab, df and per-query joins — broadcast iff the
    * query frame's measured bytes fit
    * `spark.sql.autoBroadcastJoinThreshold`. A query set past that
    * budget shuffles all three on `term` — same rows (TextOpsSpec
    * equivalence under a disabled threshold), candidates stay
    * vocabulary-bounded, and only the matching (doc, term) partials
    * plus the query frame move through the exchanges. The 1-row
    * corpus-constants frame broadcasts either way.
    *
    * Output: `(query_id, doc_id, score_e3, rank)`, rank 1..k per
    * query by (score desc, doc_id asc).
    */
  def bm25MultiQuery(
      docs: DataFrame,
      queries: DataFrame,
      k: Int,
      k1E3: Long = 1200L,
      bE3: Long = 750L,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "k must be positive")
    // duplicate (query_id, term) rows must not double-count a term;
    // the query-set-sized frames derived from the cut (vocab, df)
    // take its broadcast rule, and the 1-row constants frame is below
    // any budget
    val q = Checkpoints.cut(
      queries.select(col("query_id"), col("term")).distinct(), None)
    val hintQ = Checkpoints.broadcastRule(q)
    val vocab = q.select(col("term")).distinct()
    val perDoc = docs.select(
      col(idCol), size(tokens(col(textCol))).cast("long").as("dl"))
    val consts = perDoc.agg(
      count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_tok"))
    // inverted index over the query vocabulary only: explode pipelines
    // into the broadcast probe, partial agg combines map-side.
    // CACHED (one-slot device, its OWN bm25Slot — sharing
    // the LM family's slot let an interleaved LM construction evict a
    // still-unconsumed index, r18 ADVICE): the frame has TWO
    // consumers — the df table and the scoring branch — and the
    // identical subtrees do NOT share an exchange in practice (the
    // r18 plan audit found zero ReusedExchange nodes and the corpus
    // scan + explode + probe + agg executing twice). The frame is the
    // index restricted to the query vocabulary — query-set-bounded,
    // never corpus-sized. cache, not localCheckpoint: the plan keeps
    // its stats (downstream broadcasts survive) and the PlanQuality
    // gates still see the probe join.
    val hits = bm25Slot.claim(docs
      .select(col(idCol), tokens(col(textCol)).as("toks"))
      .select(col(idCol), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
      .join(hintQ(vocab), Seq("term"))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf")))
    // df_t = docs containing t = hits rows per term
    val dfs = hits.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = hits
      .join(hintQ(dfs), Seq("term"))
      .join(broadcast(consts))
      .withColumn("ln_e3",
        lit(1000L) - bE3 + expr(s"($bE3 * dl * n_docs) div tot_tok"))
      .withColumn("s",
        expr(s"""((1000 * (2*n_docs - 2*df + 1)) div (2*df + 1)
                | * tf * (1000 + $k1E3))
                | div (tf * 1000 + ($k1E3 * ln_e3) div 1000)""".stripMargin))
      .select(col("term"), col(idCol), col("s"))
    val perQueryDoc = scored
      .join(hintQ(q), Seq("term"))
      .groupBy(col("query_id"), col(idCol).as("doc_id"))
      .agg(sum(col("s")).as("score_e3"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_e3").desc, col("doc_id").asc)
    perQueryDoc
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** BM25 hard-negative mining for contrastive retriever training
    * (the DPR recipe, Karpukhin et al. 2020 §3.2: the negatives that
    * teach the decision boundary are the LEXICALLY CLOSE documents
    * with a DIFFERENT label, not random ones): each query document
    * retrieves its `poolK` BM25-nearest documents ([[bm25MultiQuery]]
    * with the query doc's own distinct tokens as the term set), the
    * query doc itself and every SAME-`labelCol` document (the weak
    * positives) are removed, and the top `k` survivors per query are
    * the mined hard negatives.
    *
    * Scale shape: the retrieval stage is the [[bm25MultiQuery]] plan
    * unchanged (query-vocabulary broadcast probe, map-side tf
    * combine, per-query partial top-poolK); the positive filter joins
    * the pool (|Q|·poolK rows) against the id→label projection on the
    * id key and the |Q|-row query-label frame broadcasts; the final
    * rerank is pool-sized. Nothing new shuffles at corpus scale.
    *
    * Output: `(query_id, doc_id, score_e3, rank)` — rank recomputed
    * AFTER the positive filter, so a query whose pool was eaten by
    * same-label docs yields fewer than `k` rows (visible scarcity
    * beats silently padding with weaker negatives).
    */
  def hardNegatives(
      docs: DataFrame,
      queryPred: Column,
      poolK: Int = 20,
      k: Int = 5,
      textCol: String = "text",
      idCol: String = "doc_id",
      labelCol: String = "source"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(poolK >= k, s"poolK must be >= k, got $poolK < $k")
    val q = docs.filter(queryPred).select(
      col(idCol).as("query_id"),
      explode(array_distinct(tokens(col(textCol)))).as("term"))
    val pool = bm25MultiQuery(docs, q, poolK, textCol = textCol, idCol = idCol)
    val lab = docs.select(col(idCol).as("doc_id"), col(labelCol).as("__lab"))
    val qlab = docs.filter(queryPred).select(
      col(idCol).as("query_id"), col(labelCol).as("__qlab"))
    val filt = pool
      .filter(col("doc_id") =!= col("query_id"))
      .join(lab, Seq("doc_id"))
      .join(broadcast(qlab), Seq("query_id"))
      .filter(col("__lab") =!= col("__qlab"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_e3").desc, col("doc_id").asc)
    filt
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("score_e3"), col("rank"))
  }

  /** Pairwise total-variation distance between per-source token
    * distributions — the mixture-drift audit a curation pipeline runs
    * before reweighting ("did src7's crawl snapshot shift under us?",
    * "are these two dumps the same distribution?"). TVD = ½·Σ_t
    * |p_t − q_t| is the exact-rational member of the distribution-
    * distance family (KL/JS need logs — not oracle-replicable in
    * integers; TVD bounds JS via Pinsker anyway), computed here with
    * zero floating point until one final division:
    * `S = Σ_t |c_at·N_b − c_bt·N_a|` in DECIMAL(38,0) (token counts
    * at 100 TB reach ~1e14; the cross products ~1e28 — far past
    * int64) and `tvd_e6 = floor(S·10⁶ / (2·N_a·N_b))` as the single
    * double step, the [[graft.operators.GraphOps.degreeAssortativity]]
    * exactness device. 0 = identical distributions, 10⁶ = disjoint
    * vocabularies.
    *
    * The per-token |·| needs each token's count under BOTH sources of
    * a pair, absent ⇒ 0 — expressed without a full-outer join: each
    * (source, token, cnt) row joins the (tiny, broadcast) pair list
    * and contributes `+cnt·N_b` when it is the pair's left source and
    * `−cnt·N_a` when right; the per-(pair, token) SUM is then exactly
    * `c_at·N_b − c_bt·N_a` whether the token appears under one source
    * or both.
    *
    * Scale shape: one (source, token) count shuffle over the corpus
    * (map-side combined, the shuffle carries distinct tokens, never
    * text), a source-sized totals aggregate, then a broadcast
    * nested-loop join of counts against the pair list — fan-out
    * |sources|−1 per count row. Sources are a NAMED mixture axis
    * (dozens, not millions) — the P² pair output and the fan-out are
    * bounded by that, which is the operator's documented contract.
    *
    * Output: `(source_a, source_b, n_a, n_b, tvd_e6)`, one row per
    * unordered source pair with both totals > 0.
    */
  /** Explicit count-min sketch over the corpus token stream, audited
    * against exact counts for the top-`k` vocabulary (Cormode &
    * Muthukrishnan 2005): `depth` hash rows × `width` buckets, bucket
    * totals by plain SUM, point estimate = min over rows of the
    * token's bucket total. The sketch is built from the exact
    * per-token counts (algebraically identical to hashing the raw
    * stream — the counts table IS the map-side combine), and the
    * bucket hash is the engine-portable polynomial over
    * `"<seed>#<token>"`, so an external SQL engine replicates the
    * sketch BIT-EXACTLY — the estimates hash-match, not just the
    * gate.
    *
    * Why it earns its place next to exact `t_vocab_topk`: the
    * (seed, bucket) count table is `depth·width` integers REGARDLESS
    * of vocabulary size, and it merges across shards/streams by
    * element-wise SUM — the mergeable-frequency-sketch shape
    * (heavy-hitter estimation over a 10¹⁰-type vocabulary where the
    * exact count table itself is the thing that doesn't fit).
    * `over_ok` pins the CMS guarantee that estimates never
    * undercount.
    *
    * Output: `(tok, n_exact, cms_est, over_ok)` for the exact top-`k`
    * tokens (count desc, token asc).
    */
  def cmsTokenEstimates(docs: DataFrame, depth: Int = 4, width: Int = 256,
      k: Int = 20, textCol: String = "text",
      hash: Hashing.HashTier = Hashing.Portable): DataFrame = {
    require(depth >= 1 && width >= 1 && k >= 1,
      s"depth/width/k must be >= 1, got $depth/$width/$k")
    val cnt = docs.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
    val seeds = array((0 until depth).map(s => lit(s.toLong)): _*)
    def bucketOf(tok: Column, seed: Column): Column =
      pmod(hash(concat(seed.cast("string"), lit("#"), tok)), lit(width.toLong))
    val sketch = cnt
      .select(col("tok"), col("n"), explode(seeds).as("seed"))
      .withColumn("bucket", bucketOf(col("tok"), col("seed")))
      .groupBy(col("seed"), col("bucket")).agg(sum(col("n")).as("bn"))
    val topk = cnt.orderBy(col("n").desc, col("tok").asc).limit(k)
    topk
      .select(col("tok"), col("n").as("n_exact"), explode(seeds).as("seed"))
      .withColumn("bucket", bucketOf(col("tok"), col("seed")))
      .join(sketch, Seq("seed", "bucket"))
      .groupBy(col("tok"), col("n_exact"))
      .agg(min(col("bn")).as("cms_est"))
      .select(col("tok"), col("n_exact"), col("cms_est"),
        (col("cms_est") >= col("n_exact")).as("over_ok"))
  }

  /** Temperature-flattened mixture weights (the multilingual/source
    * rebalancing rule: sample probability ∝ N_s^α, α = ½) with an
    * exact integer token-budget allocation — how much of each source a
    * run of `budgetTokens` tokens should draw so that low-resource
    * sources are up-sampled relative to their raw share (XLM-R-style
    * α-smoothing, fixed at the sqrt point so the oracle is exact).
    *
    * Exactness: `s = floor(sqrt(N))` is one correctly-rounded IEEE
    * sqrt per SOURCE (both engines bit-identical; N ≤ 2⁵² holds to
    * ~4.5e15 tokens per source, documented bound), everything after
    * is integer: `w_e6 = s·10⁶ div Σs`, and the quota avoids the
    * int64-overflowing `B·s` product via the exact split
    * `quota = s·(B div Σs) + ((B mod Σs)·s) div Σs` — every factor is
    * bounded (`B mod Σs < Σs`, `s ≤ Σs`, quota ≤ B), so no DECIMAL
    * needed on either engine.
    *
    * Scale shape: one (source, doc)-narrow scan → source-sized
    * aggregate; the Σs total is a 1-row broadcast cross join. Output
    * is one row per source.
    *
    * Output: `(source, n_tokens, sqrt_n, w_e6, quota_tokens)`,
    * sources ordered by nothing (set semantics), token-less sources
    * carry 0 weight/quota.
    */
  def temperatureMix(docs: DataFrame, budgetTokens: Long,
      srcCol: String = "source", textCol: String = "text"): DataFrame = {
    require(budgetTokens >= 0, s"budgetTokens must be >= 0, got $budgetTokens")
    val totals = docs
      .select(col(srcCol).as("source"), size(tokens(col(textCol))).as("nt"))
      .groupBy(col("source"))
      .agg(coalesce(sum(col("nt")), lit(0L)).as("n_tokens"))
      .withColumn("sqrt_n", floor(sqrt(col("n_tokens").cast("double"))).cast("long"))
    val tot = totals.agg(coalesce(sum(col("sqrt_n")), lit(0L)).as("tot_s"))
    totals.crossJoin(broadcast(tot))
      .select(
        col("source"), col("n_tokens"), col("sqrt_n"),
        when(col("tot_s") > 0,
          expr("(sqrt_n * 1000000L) div tot_s")).otherwise(0L).as("w_e6"),
        when(col("tot_s") > 0,
          expr(s"sqrt_n * ($budgetTokens div tot_s) + " +
            s"(($budgetTokens % tot_s) * sqrt_n) div tot_s"))
          .otherwise(0L).as("quota_tokens"))
  }

  def sourceTvd(docs: DataFrame, srcCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val counts = docs
      .select(col(srcCol).as("src"), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("src"), col("tok")).agg(count(lit(1)).as("cnt"))
    val totals = counts.groupBy(col("src")).agg(sum(col("cnt")).as("n"))
    val pairs = totals.select(col("src").as("source_a"), col("n").as("n_a"))
      .join(totals.select(col("src").as("source_b"), col("n").as("n_b")),
        col("source_a") < col("source_b"))
    counts
      .join(broadcast(pairs),
        col("src") === col("source_a") || col("src") === col("source_b"))
      .groupBy(col("source_a"), col("source_b"), col("n_a"), col("n_b"), col("tok"))
      .agg(sum(
        when(col("src") === col("source_a"), dec(col("cnt")) * dec(col("n_b")))
          .otherwise(-dec(col("cnt")) * dec(col("n_a")))).as("sgn"))
      .groupBy(col("source_a"), col("source_b"), col("n_a"), col("n_b"))
      .agg(sum(abs(col("sgn"))).as("s"))
      .select(
        col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        floor(
          col("s").cast("double") * 1e6 /
            (lit(2.0) * col("n_a").cast("double") * col("n_b").cast("double")))
          .cast("long").as("tvd_e6"))
  }

  /** Collocation mining: the top-`k` adjacent token bigrams by
    * pointwise mutual information, with a `minCount` support floor
    * (Church & Hanks 1990's association-ratio screen — the classic
    * phrase/tokenizer-merge candidate generator). For a FIXED corpus,
    * PMI = log( (c_xy/N_b) / ((c_x/N_u)(c_y/N_u)) ) is a monotone
    * transform of the association ratio `c_xy / (c_x·c_y)` — the
    * corpus constants N_u²/N_b shift every pair equally — so top-k by
    * PMI is computed WITHOUT any transcendental: rank on
    * `assoc_e12 = (c_xy · 10¹²) div (c_x · c_y)` — the division runs
    * in DECIMAL(38,0) (numerator ≤ 10²⁵ at 10¹³ tokens, far past
    * 100 TB) and the QUOTIENT is always ≤ 10¹² (c_xy ≤ min(c_x, c_y)),
    * so it ships as a plain BIGINT both engines reproduce bit-for-bit;
    * the caller recovers true PMI as `log2(assoc) − 40·log2(10) +
    * log2(N_u²/N_b)` presentationally.
    *
    * `minCount` is not a tuning nicety: PMI's known failure mode is
    * hapax pairs (c_xy = c_x = c_y = 1 maximizes the ratio), so the
    * support floor IS the operator semantics.
    *
    * Scale shape: one token scan feeds both count tables; bigram and
    * unigram counts shuffle on token keys with map-side combine; the
    * two count attachments are plain hash joins on the (already
    * minCount-pruned) candidate table; top-k is a
    * TakeOrderedAndProject, never a global sort. Token strings are the
    * join keys (vocabulary-sized frames, not corpus-sized) — same
    * contract as [[vocabTopK]]/[[tfidfTopK]].
    *
    * Output: `(w1, w2, n_pair, c_w1, c_w2, assoc_e12)`, ordered
    * `assoc_e12 desc, w1 asc, w2 asc`, limit `k`.
    */
  def pmiTopK(docs: DataFrame, minCount: Long = 5, k: Int = 20,
      textCol: String = "text"): DataFrame = {
    require(minCount >= 1 && k >= 1, s"minCount/k must be >= 1, got $minCount/$k")
    val toks = docs.select(tokens(col(textCol)).as("toks"))
    // one row per adjacent-pair INSTANCE; (element, index) transform
    // keeps the pairing inside one narrow generator — no positional
    // self-join, no shuffle before the count aggregates
    val inst = toks.filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(slice(toks, 1, size(toks) - 1), " +
          "(w, i) -> struct(w AS w1, element_at(toks, i + 2) AS w2))")).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val big = inst.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    val uni = toks.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    big
      .join(uni.select(col("w").as("w1"), col("c").as("c_w1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c_w2")), Seq("w2"))
      .select(col("w1"), col("w2"), col("n_pair"), col("c_w1"), col("c_w2"),
        expr("CAST((CAST(n_pair AS DECIMAL(38,0)) * 1000000000000) div " +
          "(CAST(c_w1 AS DECIMAL(38,0)) * c_w2) AS BIGINT)").as("assoc_e12"))
      .orderBy(col("assoc_e12").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  /** Sketch-based equi-join cardinality estimate (the count-min inner
    * product of Cormode & Muthukrishnan 2005 §4.2): |A ⋈ B on key| =
    * Σ_key cA(key)·cB(key) is estimated per sketch row as
    * Σ_j A_d[j]·B_d[j] and reported as the min over the `depth` rows —
    * never an undercount, since every bucket total dominates the keys
    * it absorbs. The estimator a cost-based optimizer or admission
    * controller runs BEFORE committing to a shuffle join: each side
    * compresses to a `depth × width` integer grid that merges across
    * shards by element-wise SUM, so the estimate costs two narrow
    * scans + a grid-sized join regardless of key cardinality.
    *
    * The audit contract of [[cmsTokenEstimates]]: the bucket hash is
    * the engine-portable polynomial over `"<seed>#<key>"`, the grids
    * are built from exact per-key counts (≡ hashing the raw stream),
    * and the EXACT join size rides along, so the single output row
    * certifies `over_ok = est ≥ exact` bit-for-bit in both engines.
    * Products and sums run in DECIMAL(38,0) (two 10¹²-row bucket
    * totals multiply to 10²⁴ — past int64 well below 100 TB); the
    * final counts cast back to BIGINT (a join above ~9·10¹⁸ rows is
    * not a cardinality anyone materializes).
    *
    * Output: one row `(exact_n, cms_est, over_ok)`.
    */
  def cmsJoinSize(a: DataFrame, b: DataFrame, keyCol: String,
      depth: Int = 4, width: Int = 256,
      hash: Hashing.HashTier = Hashing.Portable): DataFrame = {
    require(depth >= 1 && width >= 1, s"depth/width must be >= 1, got $depth/$width")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    def counts(df: DataFrame, out: String): DataFrame =
      df.select(col(keyCol).cast("string").as("key"))
        .groupBy(col("key")).agg(count(lit(1)).as(out))
    val ca = counts(a, "na")
    val cb = counts(b, "nb")
    val exact = ca.join(cb, Seq("key"))
      .agg(coalesce(sum(dec(col("na")) * dec(col("nb"))), dec(lit(0)))
        .cast("long").as("exact_n"))
    val seeds = array((0 until depth).map(s => lit(s.toLong)): _*)
    def grid(cnt: DataFrame, out: String): DataFrame = cnt
      .select(col("key"), col(cnt.columns.last).as("n"), explode(seeds).as("seed"))
      .withColumn("bucket",
        pmod(hash(concat(col("seed").cast("string"), lit("#"), col("key"))),
          lit(width.toLong)))
      .groupBy(col("seed"), col("bucket")).agg(sum(col("n")).as(out))
    val est = grid(ca, "an").join(grid(cb, "bn"), Seq("seed", "bucket"))
      .groupBy(col("seed"))
      .agg(coalesce(sum(dec(col("an")) * dec(col("bn"))), dec(lit(0))).as("row_est"))
      .agg(coalesce(min(col("row_est")), dec(lit(0))).cast("long").as("cms_est"))
    exact.join(broadcast(est))
      .select(col("exact_n"), col("cms_est"),
        (col("cms_est") >= col("exact_n")).as("over_ok"))
  }

  /** Per-source distinct-token estimate by k-minimum-values sketch
    * (Bar-Yossef et al. 2002), audited against the exact count — the
    * third member of the mergeable-sketch tier next to
    * [[cmsTokenEstimates]] (frequencies) and the HLL row (global
    * distinct): O(k) state per group, merges by union-truncate, and —
    * because the sketch content is just the k smallest distinct
    * PORTABLE hashes — an external SQL engine reproduces the whole
    * output BIT-EXACTLY (`DISTINCT hash ORDER BY hash LIMIT k`),
    * estimator included: groups still filling (< k distinct) report
    * their exact size; full sketches report `(k−1)·P div m_k`
    * (hash space `[0, P)`, `m_k` = k-th minimum). `est_permille`
    * rides along so drift is visible in the artifact itself.
    *
    * What KMV adds over HLL here: the bottom-k values double as a
    * deterministic per-group ELEMENT sample (the hashes identify
    * members, not just cardinality) — the primitive behind distributed
    * set-resemblance joins — and the estimate is engine-portable,
    * which `hll_sketch_agg`'s opaque binary is not.
    *
    * Scale shape: one narrow (source, hash) projection — token text
    * never reaches the aggregate — then ONE grouped [[NativeAggs.kmvAgg]]
    * with map-side partials. The exact `countDistinct` rides the same
    * exchange as a second aggregate; it is the AUDIT column (the
    * `x_approx_distinct` device), not part of the sketch path a 100 TB
    * run would ship.
    */
  def kmvDistinct(docs: DataFrame, k: Int = 64, srcCol: String = "source",
      textCol: String = "text",
      hash: Hashing.HashTier = Hashing.Portable): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    // KMV needs hashes ~uniform on [0, P); the raw portable polynomial
    // is NOT uniform for short strings (ph("a") = 314 — small tokens
    // cluster near zero, which inflates estimates ~50× on a word-like
    // vocabulary). One multiplicative mix mod P (the minhashPerm
    // coefficients) spreads the keys; both engines replicate it
    // exactly, so the sketch stays bit-portable.
    val h = docs
      .select(col(srcCol).as("source"), explode(tokens(col(textCol))).as("tok"))
      .select(col("source"),
        pmod(hash(col("tok")) * lit(961748941L) + lit(982451653L),
          lit(Hashing.P)).as("hv"))
    h.groupBy(col("source"))
      .agg(
        graft.functions.NativeAggs.kmvAgg(col("hv"), k).as("mins"),
        countDistinct(col("hv")).as("exact_distinct"))
      .select(
        col("source"), col("exact_distinct"),
        when(size(col("mins")) < k, size(col("mins")).cast("long"))
          .otherwise(expr(s"${(k - 1).toLong * Hashing.P}L div element_at(mins, $k)"))
          .cast("long").as("kmv_est"))
      .withColumn("est_permille",
        expr("(kmv_est * 1000) div exact_distinct"))
  }

  /** Per-group quantile estimates from a DETERMINISTIC hash-rate
    * sample — the quantile member of the mergeable-sketch tier next to
    * CMS (frequencies), HLL/KMV (distinct), and the KMV set algebra:
    * a row joins the sample iff `mix(hash(id)) % rate == 0` (expected
    * 1/rate of the population), so the "sketch" is a plain filtered
    * subset — mergeable by construction (sample of a union = union of
    * samples), deterministic on every engine, and, unlike
    * `percentile_approx`'s opaque internal state, bit-replicable in
    * SQL down to the estimator. Quantiles are type-1 (value at rank
    * `⌈q·n/1000⌉`, ties ordered by (value, id) — exact integers
    * end-to-end).
    *
    * Output per group: `(key, n, n_sample, p50_exact, p50_est,
    * p90_exact, p90_est)`. Groups whose sample is EMPTY (small groups
    * at high rate) report NULL estimates — visible, never silently
    * exact. The `*_exact` columns are the AUDIT path (they sort the
    * full group; a 100 TB run ships the sample path, whose sort is
    * rate-fold smaller). Bernoulli sampling gives the standard
    * rank-error concentration (±O(√(r/n)) quantile deviation) — this
    * op pins the DETERMINISM and mergeability, the error gate lives
    * with `x_approx_quantile`.
    */
  def hashSampleQuantiles(
      rows: DataFrame,
      keyCol: String,
      idCol: String,
      valueCol: String,
      rate: Int = 10,
      hash: Hashing.HashTier = Hashing.Portable): DataFrame = {
    require(rate >= 1, s"rate must be >= 1, got $rate")
    val base = rows.select(
      col(keyCol).as("key"), col(idCol).as("id"),
      col(valueCol).cast("long").as("v"),
      (pmod(hash(col(idCol).cast("string")) * lit(961748941L) + lit(982451653L),
        lit(Hashing.P)) % rate === 0).as("in_sample"))
      .filter(col("v").isNotNull)
    def qsOf(df: DataFrame, nName: String, pre: String): DataFrame = {
      val w = Window.partitionBy(col("key")).orderBy(col("v"), col("id"))
      val ranked = df
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("key"))))
      def pick(qPm: Int) = max(when(
        col("rn") === expr(s"(n * $qPm + 999) div 1000"), col("v")))
      ranked.groupBy(col("key")).agg(
        first(col("n")).as(nName),
        pick(500).as(s"p50_$pre"),
        pick(900).as(s"p90_$pre"))
    }
    qsOf(base, "n", "exact")
      .join(qsOf(base.filter(col("in_sample")), "n_sample", "est"),
        Seq("key"), "left_outer")
      .select(col("key"), col("n"),
        coalesce(col("n_sample"), lit(0L)).as("n_sample"),
        col("p50_exact"), col("p50_est"), col("p90_exact"), col("p90_est"))
  }

  /** KMV sketch SET ALGEBRA between sources (Beyer et al. 2007,
    * "On Synopses for Distinct-Value Estimation Under Multiset
    * Operations"): pairwise union-cardinality, intersection-
    * cardinality, and Jaccard estimates for every source pair, all
    * derived from the SAME per-source bottom-k sketches
    * [[kmvDistinct]] ships — the theta-sketch-style payoff of keeping
    * the k minimum hash VALUES rather than an opaque cardinality
    * register: sketches of two sets compose. Union sketch = k
    * smallest of (A ∪ B)'s sketch union; with `K` = members of the
    * union sketch present in BOTH bottom-k sets,
    * `jaccard ≈ K/k_u`, `|A ∪ B| ≈ (k−1)·P div τ` (τ = the union
    * sketch's k-th minimum), `|A ∩ B| ≈ K·|A ∪ B| div k_u`.
    * Sources still filling (< k distinct) short-circuit to exact
    * sizes, same as [[kmvDistinct]].
    *
    * Bit-portability: sketch content is `DISTINCT mixed-hash ORDER BY
    * hash LIMIT k`, so an external SQL engine reproduces every output
    * column exactly — estimators included (all integer floor-division).
    *
    * The exact columns (`exact_union`, `exact_inter`,
    * `union_permille`) are the AUDIT path: a vocabulary-sized
    * hash self-join that a 100 TB run would NOT ship. The sketch path
    * shuffles one (source, 8-byte hash) projection into an O(k)-state
    * aggregate and then works on s·k values for s sources — the pair
    * algebra is array arithmetic on broadcast-sized rows.
    *
    * Output per pair (`src_a < src_b`): `(src_a, src_b, k_union,
    * n_both, union_est, exact_union, union_permille, inter_est,
    * exact_inter, jaccard_e6)`.
    */
  def kmvOverlap(docs: DataFrame, k: Int = 16, srcCol: String = "source",
      textCol: String = "text",
      hash: Hashing.HashTier = Hashing.Portable): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    // same multiplicative spread as kmvDistinct — the sketches here
    // and there are the same artifact, which is the point of KMV
    val hd = docs
      .select(col(srcCol).as("source"), explode(tokens(col(textCol))).as("tok"))
      .select(col("source"),
        pmod(hash(col("tok")) * lit(961748941L) + lit(982451653L),
          lit(Hashing.P)).as("hv"))
      .distinct()
    val sk = hd.groupBy(col("source"))
      .agg(
        graft.functions.NativeAggs.kmvAgg(col("hv"), k).as("mins"),
        count(lit(1)).as("nd"))
    // exact pairwise intersection (audit only): the distinct-hash
    // frame self-joins on the 8-byte hash — each hash appears once
    // per holding source, so the join fan-out is bounded by #sources
    val exactInter = hd.select(col("source").as("src_a"), col("hv"))
      .join(hd.select(col("source").as("src_b"), col("hv")), Seq("hv"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("exact_inter"))
    // pair grid of sketches: s·(s−1)/2 rows of 2k longs each — tiny
    // at any corpus size, so the algebra below is broadcast-cheap
    val sa = sk.select(col("source").as("src_a"), col("mins").as("mins_a"),
      col("nd").as("nd_a"))
    val sb = sk.select(col("source").as("src_b"), col("mins").as("mins_b"),
      col("nd").as("nd_b"))
    val pairs = sa.join(broadcast(sb), col("src_a") < col("src_b"))
      .withColumn("u",
        slice(array_sort(array_distinct(concat(col("mins_a"), col("mins_b")))),
          1, k))
      .withColumn("k_union", size(col("u")).cast("long"))
      .withColumn("n_both",
        size(array_intersect(col("u"),
          array_intersect(col("mins_a"), col("mins_b")))).cast("long"))
      // k_union < k ⟺ both sketches are still filling ⟺ both sets are
      // fully enumerated ⟹ the union size is exact (u ⊇ either sketch,
      // so a full sketch forces k_union = k)
      .withColumn("union_est",
        when(col("k_union") < k, col("k_union"))
          .otherwise(expr(s"${(k - 1).toLong * Hashing.P}L div element_at(u, $k)"))
          .cast("long"))
      .withColumn("jaccard_e6",
        when(col("k_union") > 0,
          expr("(n_both * 1000000) div k_union")).otherwise(lit(0L)))
      .withColumn("inter_est",
        when(col("k_union") > 0,
          expr("(n_both * union_est) div k_union")).otherwise(lit(0L)))
    pairs.join(exactInter, Seq("src_a", "src_b"), "left_outer")
      .withColumn("exact_inter", coalesce(col("exact_inter"), lit(0L)))
      .withColumn("exact_union", col("nd_a") + col("nd_b") - col("exact_inter"))
      .select(
        col("src_a"), col("src_b"), col("k_union"), col("n_both"),
        col("union_est"), col("exact_union"),
        expr("(union_est * 1000) div exact_union").as("union_permille"),
        col("inter_est"), col("exact_inter"), col("jaccard_e6"))
  }

  /** HTML/boilerplate strip — the web-corpus front door (the
    * RefinedWeb/CCNet-shaped stage every `t_*` operator implicitly
    * assumes already ran): markup removal plus a jusText-lite
    * line-density boilerplate filter, pinned as a deterministic
    * 5-stage rewrite so an external SQL engine replicates it
    * byte-for-byte:
    *
    *  1. `<script…>…</script>` and `<style…>…</style>` blocks drop
    *     whole (dotall, non-greedy — unclosed blocks survive to
    *     stage 3 and lose only their tags);
    *  2. line-structuring tags (`<br>`, closing `p/div/li/h1-6/tr`)
    *     become newlines — the line boundaries stage 5 filters on;
    *     tag names are `\b`-anchored so `<brand…>`/`</pre>` do NOT
    *     match the `br`/`/p` alternatives;
    *  3. every remaining `<…>` tag becomes a space;
    *  4. the fixed entity set `&lt; &gt; &quot; &#39; &nbsp;` decodes,
    *     then `&amp;` LAST (decoding it earlier double-decodes
    *     `&amp;lt;` — the classic pitfall, pinned here);
    *  5. lines split on `\n`, trim, and survive iff they carry at
    *     least `minLineTokens` whitespace tokens AND pure-punctuation
    *     tokens are under a third of the line (`3·n_punct ≤ n_tok`,
    *     integer-exact) — the density rule that drops `Home | About |
    *     Contact` nav rows and short footer lines while passing any
    *     prose sentence; already-clean text is one long line and
    *     passes untouched. "Punctuation" is the Unicode complement
    *     `[^\p{L}\p{N}]` (any-script letters/digits count as words),
    *     so Cyrillic/CJK/Greek/Arabic prose passes the ratio rule —
    *     an ASCII-only class would empty every non-Latin document.
    *
    * Output `(doc_id, clean_text, n_lines, n_kept)`: surviving lines
    * re-joined with `\n`, raw/kept line counts for drop-rate
    * monitoring.
    *
    * Scale shape: one narrow codegen projection per document — regex
    * rewrites and HOF line filters, no shuffle, no UDF; the text
    * never leaves its row. The regexes are RE2-compatible (no
    * backrefs), so the oracle twin runs the identical patterns.
    */
  def htmlStrip(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      minLineTokens: Int = 4): DataFrame = {
    require(minLineTokens >= 1, s"minLineTokens must be >= 1, got $minLineTokens")
    val noScript = regexp_replace(col(textCol),
      "(?is)<script\\b[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript,
      "(?is)<style\\b[^>]*>.*?</style>", " ")
    val withBreaks = regexp_replace(noStyle,
      "(?i)<(?:br|/p|/div|/li|/h[1-6]|/tr)\\b[^>]*>", "\n")
    val noTags = regexp_replace(withBreaks, "<[^>]*>", " ")
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (pat, rep)) => regexp_replace(c, pat, rep) }
    val lines = transform(split(decoded, "\n"), l => trim(l))
    val kept = filter(lines, l => {
      val toks = regexp_extract_all(l, lit("\\S+"), lit(0))
      size(toks) >= minLineTokens &&
        size(filter(toks, t => t.rlike("^[^\\p{L}\\p{N}]+$"))) * 3 <= size(toks)
    })
    docs.select(
      col(idCol).as("doc_id"),
      array_join(kept, "\n").as("clean_text"),
      size(lines).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept"))
  }

  /** Compression-ratio quality signal — the one Gopher-family screen
    * [[repetitionStats]] lacks: the distinct/total ratio of the
    * document's character `n`-gram stream, the deterministic
    * dictionary-ratio proxy for LZ compressibility (an LZ78-style
    * phrase dictionary over the stream is bounded by its distinct
    * n-grams, so a document whose stream repeats — machine-generated
    * boilerplate, keyword stuffing, `aaaa…` runs — scores low, while
    * natural prose sits high and random text at ~1000). Used exactly
    * like the Gopher repetition rules: as a cheap screen for
    * machine-generated/repetitive text before any model-based scoring
    * (Rae et al. 2021 §A1.1 filter family; DataComp-LM ships the
    * zlib-ratio variant of the same idea — this form is exact,
    * engine-portable, and needs no codec).
    *
    * Output `(doc_id, n_windows, n_distinct, ratio_e3)`:
    * `n_windows = max(len − n + 1, 0)` character windows,
    * `ratio_e3 = 1000·n_distinct div n_windows` (documents shorter
    * than `n` have no stream to compress and pin to 1000 —
    * incompressible by convention).
    *
    * Scale shape: one narrow codegen projection — the window
    * enumeration, distinct, and ratio all happen INSIDE the row
    * (sequence/transform/array_distinct HOFs); no shuffle, no UDF,
    * text never leaves its row.
    */
  def compressionRatio(
      docs: DataFrame,
      n: Int = 4,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val t = col(textCol)
    val nWin = greatest(length(t) - (n - 1), lit(0)).cast("long")
    val grams = transform(
      sequence(lit(1), greatest(length(t) - (n - 1), lit(0))),
      i => t.substr(i, lit(n)))
    docs.select(
      col(idCol).as("doc_id"),
      nWin.as("n_windows"),
      when(nWin > 0, size(array_distinct(grams)).cast("long"))
        .otherwise(0L).as("n_distinct"))
      .withColumn("ratio_e3",
        when(col("n_windows") > 0,
          expr("n_distinct * 1000 div n_windows")).otherwise(1000L))
  }

  /** Tracking-parameter names [[urlParts]] strips (plus any `utm_*`):
    * the ad-click/session identifiers that make one page crawl as
    * thousands of distinct URLs — the canonical normalization set of
    * web-corpus pipelines.
    */
  val DefaultTrackingParams: Seq[String] = Seq(
    "gclid", "fbclid", "msclkid", "igshid", "mc_eid", "ref", "ref_src")

  /** Multi-label public suffixes [[urlParts]] recognizes when cutting
    * the registered domain. A pinned, deterministic SUBSET of the
    * Mozilla Public Suffix List's most common entries — kept as the
    * small documented fallback; [[SnapshotMultiLabelSuffixes]] (the
    * checked-in file-driven snapshot, ~350 entries) is the operator
    * default since r16.
    */
  val DefaultMultiLabelSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "com.br", "com.cn", "com.mx", "com.ar", "com.tr", "com.sg",
    "co.in", "co.kr", "co.nz", "co.za")

  /** FILE-DRIVEN multi-label suffix set — the production form of the
    * registered-domain cut, loaded once from the checked-in PSL
    * snapshot `graft/psl_multilabel_snapshot.txt` (a pinned subset of
    * the Mozilla Public Suffix List restricted to two-label suffixes,
    * ICANN + private sections; pinned file ⇒ still oracle-replicable
    * — the DuckDB twin inlines the same entries). The loader is
    * strict: PSL-style `//` comments and blanks skipped, entries
    * lowercased, and anything that is not a plain `label.label` form
    * (wildcards, exceptions, 1- or 3-label rules) fails loudly rather
    * than silently mis-keying a quota bucket. Absent a ccTLD's entry
    * the cut degrades to last-two-labels — one quota bucket per
    * host-label pair instead of per registrant (the r15-documented
    * trade, now limited to genuinely rare suffixes).
    */
  lazy val SnapshotMultiLabelSuffixes: Seq[String] = {
    val res = "graft/psl_multilabel_snapshot.txt"
    val in = Option(getClass.getClassLoader.getResourceAsStream(res))
      .getOrElse(throw new IllegalStateException(
        s"PSL snapshot resource $res missing from classpath"))
    val entries =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("//"))
        .map(_.toLowerCase(java.util.Locale.ROOT)).toList
      finally in.close()
    val bad = entries.filterNot(_.matches("[a-z0-9-]+\\.[a-z0-9-]+"))
    require(bad.isEmpty,
      s"PSL snapshot holds non-two-label/wildcard entries: ${bad.take(5).mkString(", ")}")
    require(entries.distinct.length == entries.length,
      "PSL snapshot holds duplicate entries")
    entries
  }

  /** URL parse + normalization — the web-corpus front door BEFORE
    * [[htmlStrip]] (the stage between a raw crawl and every
    * source-keyed curation op: RefinedWeb/CCNet filter by URL and
    * quota by REGISTERED DOMAIN, not by a pre-cleaned `source`
    * column). Narrow RE2-compatible projections, pinned:
    *
    *  - `scheme`: lowercased `^[A-Za-z][A-Za-z0-9+.-]*` before `://`
    *    (rows without an absolute URL parse to empty strings/NULL
    *    port — the "not a URL" signal downstream filters on);
    *  - `host`: authority minus userinfo (`^[^@/]*@` — RFC 3986 puts
    *    userinfo before the first `@`) minus a trailing `:port`,
    *    lowercased; punycode (`xn--`) labels pass through VERBATIM
    *    (IDNA decoding is out of scope, and mixing decoded/encoded
    *    forms would split one domain's quota in two);
    *  - `port`: the trailing digits, NULL when absent (bracketed IPv6
    *    hosts keep their brackets; `]` blocks the port regex only
    *    when no port follows);
    *  - `reg_domain`: last two host labels, or last three when the
    *    last two form a multi-label public suffix — by default the
    *    file-driven [[SnapshotMultiLabelSuffixes]] PSL snapshot — the
    *    quota/overlap key (`domainQuota(groupCol = "reg_domain")`);
    *  - `path`: after authority, before `?`/`#`;
    *  - `n_params`/`n_tracking`/`clean_url`: query params split on
    *    `&`; a param is tracking iff its lowercased name is `utm_*`
    *    or in `trackingParams`. `clean_url` re-joins the KEPT params
    *    in ORIGINAL ORDER (re-sorting would merge distinct URLs whose
    *    servers are order-sensitive and reorder duplicate keys),
    *    drops the fragment always, and drops the port when it is the
    *    scheme default (http:80, https:443, ftp:21).
    *
    * Scale shape: one narrow codegen projection per row — regex
    * extracts and array HOFs only; no shuffle, no UDF, the URL never
    * leaves its row. RE2-compatible patterns, so the oracle twin runs
    * them verbatim.
    */
  def urlParts(
      docs: DataFrame,
      urlCol: String = "url",
      idCol: String = "doc_id",
      trackingParams: Seq[String] = DefaultTrackingParams,
      multiLabelSuffixes: Seq[String] = SnapshotMultiLabelSuffixes): DataFrame = {
    val u = col(urlCol)
    val scheme = lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val auth = regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    val hostPort = regexp_replace(auth, "^[^@/]*@", "")
    val host = lower(regexp_replace(hostPort, ":[0-9]+$", ""))
    val portS = regexp_extract(hostPort, ":([0-9]+)$", 1)
    val port = when(length(portS) > 0, portS.cast("long"))
    val path = regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val noFrag = regexp_replace(u, "#.*$", "")
    val query = regexp_extract(noFrag, "\\?(.*)$", 1)
    val labels = split(host, "\\.")
    val n = size(labels)
    // get() is the null-on-out-of-bounds accessor and concat_ws skips
    // nulls, so short hosts degrade without ANSI index errors
    val last2 = concat_ws(".", get(labels, n - 2), get(labels, n - 1))
    val regDomain =
      when(n >= 3 && last2.isin(multiLabelSuffixes: _*),
        concat_ws(".", get(labels, n - 3), last2))
        .when(n >= 2, last2)
        .otherwise(host)
    val params = filter(split(query, "&"), p => length(p) > 0)
    val kept = filter(params, p => {
      val nm = lower(regexp_extract(p, "^([^=]*)", 1))
      !(nm.startsWith("utm_") || nm.isin(trackingParams: _*))
    })
    val cleanQuery = array_join(kept, "&")
    val defaultPort =
      (scheme === "http" && port === 80) ||
        (scheme === "https" && port === 443) ||
        (scheme === "ftp" && port === 21)
    val cleanUrl = when(length(scheme) > 0, concat(
      scheme, lit("://"), host,
      when(port.isNotNull && !defaultPort,
        concat(lit(":"), port.cast("string"))).otherwise(lit("")),
      path,
      when(length(cleanQuery) > 0, concat(lit("?"), cleanQuery))
        .otherwise(lit("")))).otherwise(lit(""))
    docs.select(
      col(idCol).as("doc_id"),
      scheme.as("scheme"),
      host.as("host"),
      port.as("port"),
      regDomain.as("reg_domain"),
      path.as("path"),
      size(params).cast("long").as("n_params"),
      (size(params) - size(kept)).cast("long").as("n_tracking"),
      cleanUrl.as("clean_url"))
  }

  /** Heaps'-law vocabulary-growth curve per source: for every document
    * (in `doc_id` order within its source) the cumulative token count
    * and cumulative DISTINCT-token count up to and including it — the
    * saturation diagnostic that tells a corpus builder whether a
    * source is still contributing novel vocabulary or replaying
    * itself (V(n) ≈ K·n^β flattening = diminishing returns).
    *
    * The running-distinct is NOT computed as a running distinct:
    * each (source, token)'s contribution collapses to its FIRST
    * carrying document (`min(doc_id)`), so cumulative vocabulary =
    * prefix sum of per-doc first-occurrence counts — two ordinary
    * grouped aggregates plus a prefix sum.
    *
    * The prefix sum itself is two-phase so no single task ever scans a
    * whole source: docs land in `doc_id div bucketSize` buckets;
    * per-(source, bucket) partials take one grouped agg; the
    * bucket-level exclusive prefix runs a window over the BUCKET rows
    * (corpus/bucketSize of them, two longs each); the in-bucket
    * residual window orders ≤ bucketSize rows per partition. At
    * 10¹⁰ docs/source a single-partition `partitionBy(source)` window
    * is the classic skew cliff — this shape never creates a partition
    * larger than `bucketSize` rows. (The result is pinned ≡ the
    * naive single-window form by spec.)
    *
    * Output: `(source, doc_id, n_toks, new_toks, cum_toks, cum_vocab)`.
    */
  def vocabGrowth(docs: DataFrame, bucketSize: Long = 1024,
      srcCol: String = "source", idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(bucketSize >= 1, s"bucketSize must be >= 1, got $bucketSize")
    val base = docs.select(col(srcCol).as("source"), col(idCol).as("doc_id"),
      tokens(col(textCol)).as("toks"))
    val firsts = base
      .select(col("source"), col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy(col("source"), col("tok")).agg(min(col("doc_id")).as("fdoc"))
      .groupBy(col("source"), col("fdoc").as("doc_id"))
      .agg(count(lit(1)).as("new_toks"))
    val perDoc = base
      .select(col("source"), col("doc_id"), size(col("toks")).cast("long").as("n_toks"))
      .join(firsts, Seq("source", "doc_id"), "left_outer")
      .withColumn("new_toks", coalesce(col("new_toks"), lit(0L)))
      .withColumn("bkt", expr(s"doc_id div ${bucketSize}L"))
    val partials = perDoc.groupBy(col("source"), col("bkt"))
      .agg(sum(col("n_toks")).as("bt"), sum(col("new_toks")).as("bv"))
    val wb = Window.partitionBy(col("source")).orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = partials
      .withColumn("base_t", coalesce(sum(col("bt")).over(wb), lit(0L)))
      .withColumn("base_v", coalesce(sum(col("bv")).over(wb), lit(0L)))
      .select(col("source"), col("bkt"), col("base_t"), col("base_v"))
    val wi = Window.partitionBy(col("source"), col("bkt")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDoc.join(bases, Seq("source", "bkt"))
      .withColumn("cum_toks", col("base_t") + sum(col("n_toks")).over(wi))
      .withColumn("cum_vocab", col("base_v") + sum(col("new_toks")).over(wi))
      .select(col("source"), col("doc_id"), col("n_toks"), col("new_toks"),
        col("cum_toks"), col("cum_vocab"))
  }

  /** Zipf rank–frequency slope diagnostic — [[vocabGrowth]]'s
    * distributional sibling: least-squares fit of
    * `ilog2(freq) ≈ a + s·ilog2(rank)` over the corpus vocabulary.
    * Natural text tracks s ≈ −1 (Zipf's law); a corpus drifting flat
    * (s → 0: templated/boilerplate-heavy, frequencies equalized) or
    * steep (s ≪ −1: vocabulary collapse onto a few tokens) is a
    * curation smell worth alerting on. The whole-bit `ilog2(n) =
    * length(bin(n)) − 1` convention ([[bigramLmScore]]'s device) keeps
    * every sufficient statistic an exact integer; cross products ride
    * DECIMAL(38,0) (the `agg_correlation` overflow rule) and the
    * single final division is one IEEE double, e6-floored.
    *
    * Output: ONE row `(n_vocab, sum_x, sum_y, slope_e6)` with
    * x = ilog2(rank), y = ilog2(freq);
    * `slope_e6 = floor(10⁶·(n·Σxy − Σx·Σy) / (n·Σxx − Σx·Σx))`,
    * NULL when the variance denominator is 0 (vocabulary of ≤ 1 or
    * all x equal).
    *
    * Scale shape: one corpus scan reduces tokens to 8-byte hashes
    * before the frequency exchange (text never shuffles) — and the
    * per-token RANK is never materialized at all. Equal-frequency
    * tokens share one y = ilog2(freq) and occupy a CONTIGUOUS rank
    * range [base+1, base+cnt] in the (freq DESC, h ASC) order, so
    * every regression statistic collapses onto the frequency-of-
    * frequency table via the closed forms
    * `S(m) = Σ_{r≤m} ilog2(r) = L·(m+1) − 2^(L+1) + 2` and
    * `Q(m) = Σ_{r≤m} ilog2(r)² = (L²−4L+6)·2^L − 6 + L²·(m−2^L+1)`
    * (L = ilog2(m)): per distinct frequency, Δx = S(base+cnt)−S(base),
    * Δxx = Q(base+cnt)−Q(base) — exact integers, tie-order-free (the
    * h tie-break permutes ranks only WITHIN a constant-y group). The
    * old global `Window.orderBy(freq DESC)` rank — one task holding
    * the 10⁸–10⁹-row vocabulary at 100 TB — is gone; `base` comes
    * from a two-phase prefix (ilog2(freq)-bucket totals, ≤ 64 rows,
    * joined cross-bucket + a PARTITIONED within-bucket running sum,
    * the [[vocabGrowth]] device), so no unpartitioned window and no
    * partition larger than one bucket's distinct frequencies
    * (≤ √(2·corpus tokens) globally). The regression is one map-side-
    * combined aggregate to a single row. Headroom: Q ≤ 63²·n_vocab
    * stays in int64 for any vocabulary below 2.3×10¹⁵ types.
    */
  def zipfSlope(
      docs: DataFrame,
      textCol: String = "text",
      hash: Hashing.HashTier = Hashing.Fast): DataFrame = {
    def ilog2(c: Column): Column = (length(bin(c)) - 1).cast("long")
    val freqs = docs
      .select(explode(graft.functions.NativeOps.shingleHashes(
        col(textCol), 1, hash.portable)).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("freq"))
    val ff = freqs.groupBy(col("freq")).agg(count(lit(1)).as("cnt"))
      .withColumn("lb", ilog2(col("freq")))
    // cross-bucket prefix: tokens in any HIGHER ilog2(freq) bucket all
    // rank earlier (lb is monotone in freq) — ≤ 64 keyed rows, joined
    val lt = ff.groupBy(col("lb")).agg(sum(col("cnt")).as("tot"))
    val lbBase = lt.select(col("lb"))
      .join(lt.select(col("lb").as("lb_hi"), col("tot")),
        col("lb_hi") > col("lb"), "left_outer")
      .groupBy(col("lb")).agg(coalesce(sum(col("tot")), lit(0L)).as("lb_base"))
    // within-bucket prefix: PARTITIONED running sum over the bucket's
    // distinct frequencies, higher freq first
    val wIn = Window.partitionBy(col("lb")).orderBy(col("freq").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val based = ff
      .withColumn("in_base", coalesce(sum(col("cnt")).over(wIn), lit(0L)))
      .join(broadcast(lbBase), Seq("lb"))
      .withColumn("base", col("lb_base") + col("in_base"))
    val dec: Column => Column = _.cast("decimal(38,0)")
    val grouped = based
      .withColumn("hi", col("base") + col("cnt"))
      .withColumn("ds", rankLogSum(col("hi")) - rankLogSum(col("base")))
      .withColumn("dq", rankLogSqSum(col("hi")) - rankLogSqSum(col("base")))
      .withColumn("y", ilog2(col("freq")))
    grouped.agg(
      // coalesce: the empty corpus pins n_vocab = 0 (count semantics)
      coalesce(sum(col("cnt")), lit(0L)).as("n_vocab"),
      sum(col("ds")).as("sum_x"),
      sum(col("y") * col("cnt")).as("sum_y"),
      sum(col("y") * col("ds")).as("sum_xy"),
      sum(col("dq")).as("sum_xx"))
      .select(
        col("n_vocab"), col("sum_x"), col("sum_y"),
        when(
          dec(col("n_vocab")) * dec(col("sum_xx")) -
            dec(col("sum_x")) * dec(col("sum_x")) =!= 0,
          floor(
            (dec(col("n_vocab")) * dec(col("sum_xy")) -
              dec(col("sum_x")) * dec(col("sum_y"))).cast("double") * lit(1e6) /
            (dec(col("n_vocab")) * dec(col("sum_xx")) -
              dec(col("sum_x")) * dec(col("sum_x"))).cast("double"))
            .cast("long")).as("slope_e6"))
  }

  /** `Σ_{r=1}^{m} ilog2(r)` in closed form (0 for m ≤ 0): with
    * L = ilog2(m), the ranks below 2^L contribute `Σ_{j<L} j·2^j =
    * (L−2)·2^L + 2` and the `m − 2^L + 1` ranks at level L contribute
    * L each — total `L·(m+1) − 2^(L+1) + 2`. Exact BIGINT.
    */
  private def rankLogSum(m: Column): Column = {
    val l = (length(bin(m)) - 1).cast("long")
    when(m <= 0, lit(0L))
      .otherwise(l * (m + 1) - lit(2L) * pow2(l) + lit(2L))
  }

  /** `Σ_{r=1}^{m} ilog2(r)²` in closed form (0 for m ≤ 0): with
    * L = ilog2(m), `Σ_{j<L} j²·2^j = (L²−4L+6)·2^L − 6`, plus
    * L²·(m − 2^L + 1) for the level-L ranks. Exact BIGINT.
    */
  private def rankLogSqSum(m: Column): Column = {
    val l = (length(bin(m)) - 1).cast("long")
    when(m <= 0, lit(0L))
      .otherwise(
        (l * l - lit(4L) * l + lit(6L)) * pow2(l) - lit(6L) +
          l * l * (m - pow2(l) + lit(1L)))
  }

  /** `2^l` for a COLUMN exponent — the DSL `shiftleft` only takes a
    * literal shift, so this goes through the catalyst node directly
    * (l ≤ 63 by construction: exponents here are ilog2 of row counts).
    */
  private def pow2(l: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      org.apache.spark.sql.catalyst.expressions.ShiftLeft(
        org.apache.spark.sql.graftbridge.Bridge.expression(lit(1L)),
        org.apache.spark.sql.graftbridge.Bridge.expression(l.cast("int"))))
}
