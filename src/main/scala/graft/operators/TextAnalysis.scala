package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for training-data pipelines: tokenization,
 * quality scoring, a language-ID heuristic, and document fingerprinting.
 * All are composed from codegen'd built-ins (no UDFs in the hot path) and
 * are embarrassingly parallel — per-row projections that survive any
 * scale-up; the only aggregations are standard group-bys.
 */
object TextAnalysis {

  val stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "it")

  def tokens(text: Column): Column = split(lower(text), " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** GPT-2-style PRE-TOKENIZER grain, simplified to the subset that
    * behaves identically under java.util.regex and RE2 (DuckDB): a
    * token is an optionally-space-prefixed letter run, digit run, or
    * punctuation run, or a whitespace run. No lookahead (RE2 has none)
    * and no unicode classes (class semantics differ across engines).
    * This is the "tokens a BPE would start from" count — the budget
    * number a training pipeline actually bills by — as opposed to
    * [[tokenCount]]'s whitespace words. */
  val BpeishPattern = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s]+|\\s+"

  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeishPattern), lit(0))).cast("long")

  def stopwordCount(text: Column): Column =
    size(filter(tokens(text), w => w.isin(stopwords.map(lit): _*)))

  def stopwordRatio(text: Column): Column =
    stopwordCount(text).cast("double") / tokenCount(text).cast("double")

  def avgTokenLen(text: Column): Column =
    length(text).cast("double") / tokenCount(text).cast("double")

  /** Heuristic quality ∈ [0,1]: length sweet-spot × stopword plausibility.
    * Deterministic per-row double math (portable to the oracle). */
  def qualityScore(text: Column): Column = {
    val lenScore = least(lit(1.0), tokenCount(text).cast("double") / lit(100.0))
    val stopScore = lit(1.0) - abs(stopwordRatio(text) - lit(0.10))
    round(lenScore * stopScore, 6)
  }

  /** Stopword-profile language-ID heuristic: English function words push
    * towards 'en'. A real deployment swaps in per-language n-gram
    * profiles; the operator shape (scored CASE over per-row token stats)
    * is the same. */
  def langIdHeuristic(text: Column): Column =
    when(stopwordRatio(text) >= 0.02, lit("en")).otherwise(lit("unk"))

  /** Whitespace-normalized content fingerprint (md5). */
  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(text, " +", " ")))

  /** Polynomial rolling hash of the token stream (base 31, mod 1e9+7 so
    * the accumulator never overflows a long) — an order-sensitive
    * fingerprint usable for shift-detection, computed as a deterministic
    * sequential fold. */
  def rollingHash(textColName: String): Column =
    expr(s"aggregate(split(lower($textColName), ' '), " +
      "CAST(0 AS BIGINT), (acc, w) -> pmod(acc * 31 + crc32(w), 1000000007))")

  /** Heavy hitters over a token column via the mergeable bounded-memory
    * SpaceSaving sketch (see [[graft.functions.SpaceSavingTopK]]) —
    * partial sketches of ≤ `capacity` counters combine map-side, so the
    * vocabulary never shuffles in full. Returns (tok, cnt) rows, count
    * descending. */
  def approxTopK(toks: DataFrame, tokCol: String, k: Int,
                 capacity: Int): DataFrame = {
    val sketch = udaf(new graft.functions.SpaceSavingTopK(k, capacity))
    toks.agg(sketch(col(tokCol)).as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e._1").as("tok"), col("e._2").as("cnt"))
  }

  /**
   * CCNet-style unigram language-model quality score: per-document mean
   * token log-probability under an add-one-smoothed unigram model fit on
   * the corpus itself (low = rare/garbled tokens; the standard cheap
   * perplexity proxy for corpus filtering). Returns
   * (id, n_toks, lp_sum_micro, avg_logprob) — the exact integer micro-nat
   * sum alongside the human-readable double mean.
   *
   * Scale shape (the 100 TB path): the model is a top-`vocabSize`
   * VOCABULARY aggregate — map-side partial counts, one shuffle bounded
   * by vocabulary (not corpus) cardinality, top-k via TakeOrdered — and
   * the resulting ≤vocabSize-row model table is BROADCAST, so scoring is
   * a map-side hash join plus one per-doc aggregate. Nothing larger than
   * (id, token) ever shuffles.
   *
   * Cross-engine determinism: per-token log-probs are quantized to
   * integer MICRO-NATS and summed as BIGINT — exact and order-independent
   * regardless of partitioning; only one final division is floating
   * point. (`ln` is the single libm call over exact integer ratios, but
   * Math.log is spec'd to 1 ulp, not correctly rounded, so it need not
   * bit-match DuckDB's libm: a token whose ln(ratio)*1e6 lands within
   * ~1 ulp of a .5 rounding boundary could shift lp_micro by 1. The
   * residual risk is per-token-TYPE and vanishingly small — green on
   * this corpus — but the determinism is empirical, not guaranteed.)
   */
  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String,
                     vocabSize: Int = 1000): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      explode(tokens(col(textCol))).as("tok"))
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val vocab = counts.orderBy(col("cnt").desc, col("tok")).limit(vocabSize)
    // corpus totals: N counts ALL tokens (OOV included), V = model rows
    val totals = counts.agg(sum("cnt").cast("long").as("n_total"))
      .crossJoin(vocab.agg(count(lit(1)).cast("long").as("v_size")))
    toks
      .join(broadcast(vocab), Seq("tok"), "left")
      .crossJoin(broadcast(totals))
      .select(col("id"),
        round(log((coalesce(col("cnt"), lit(0L)) + lit(1L)).cast("double") /
            (col("n_total") + col("v_size") + lit(1L)).cast("double")) * 1e6)
          .cast("long").as("lp_micro"))
      .groupBy("id")
      .agg(count(lit(1)).cast("long").as("n_toks"),
        sum("lp_micro").as("lp_sum_micro"))
      .select(col("id"), col("n_toks"), col("lp_sum_micro"),
        (col("lp_sum_micro").cast("double") / col("n_toks") / lit(1e6))
          .as("avg_logprob"))
  }

  /**
   * Bigram-LM quality score — the conditional upgrade of
   * [[unigramLogProb]]: per-doc mean log P(w_i | w_{i-1}) with add-one
   * smoothing over a top-`vocabSize` vocabulary (everything else maps to
   * one OOV bucket FIRST, so the bigram table is bounded by
   * (vocab+1)² — the corpus-sized raw-bigram shuffle never happens).
   *
   * Scale shape: one token-grain shuffle keyed on the doc id (the LAG
   * window that forms bigrams), vocabulary-bounded count aggregations,
   * and broadcast model joins; p = (c12+1)/(c1+V+1) over exact integer
   * counts, quantized to micro-nats and summed as BIGINT (same
   * determinism envelope as the unigram scorer, incl. the documented
   * 1-ulp `ln` residual).
   */
  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String,
                    vocabSize: Int = 20): DataFrame = {
    val t = bigramTables(docs, idCol, textCol, vocabSize)
    val vsize = t.vocab.agg(count(lit(1)).cast("long").as("v_size"))
    t.bi.join(broadcast(t.c12), Seq("w1", "w2"))
      .join(broadcast(t.c1), Seq("w1"))
      .crossJoin(broadcast(vsize))
      .select(col("id"),
        round(log((col("c12") + lit(1L)).cast("double") /
            (col("c1") + col("v_size") + lit(1L)).cast("double")) * 1e6)
          .cast("long").as("lp_micro"))
      .groupBy("id")
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        sum("lp_micro").as("lp_sum_micro"))
  }

  /** Separator of the n-gram LM map-literal keys: tokens come from a
    * space split, so a space never occurs INSIDE a token and the key is
    * unambiguous (an '_' or '|' separator could collide with token
    * content). */
  private val NgramKeySep = " "

  /** The per-row LM folds' map-literal key of an n-gram: its tokens
    * [[NgramKeySep]]-joined. */
  private def ngramKey(ws: Column*): Column =
    concat(ws.flatMap(w => Seq(lit(NgramKeySep), w)).tail: _*)

  /** Collect an (n-gram columns…, count) table into the map literal the
    * per-row LM folds look up: the first `arity` string columns
    * [[NgramKeySep]]-joined → the count. */
  private def collectNgramCounts(df: DataFrame,
                                 arity: Int): Map[String, Long] =
    df.collect().map(r => (0 until arity).map(r.getString)
      .mkString(NgramKeySep) -> r.getLong(arity)).toMap

  /** The n-gram LMs' shared prelude: the top-`vocabSize` vocabulary
    * (tok, in_v) and the token stream (id, pos, w) with every token
    * outside it mapped to one `<oov>` bucket FIRST — so every count
    * table downstream is (vocab+1)^arity-bounded. */
  private def oovMapped(docs: DataFrame, idCol: String, textCol: String,
                        vocabSize: Int): (DataFrame, DataFrame) = {
    val toks = docs.select(col(idCol).as("id"),
      posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val vocab = counts.orderBy(col("cnt").desc, col("tok")).limit(vocabSize)
      .select(col("tok"), lit(1).as("in_v"))
    val mapped = toks.join(broadcast(vocab), Seq("tok"), "left")
      .select(col("id"), col("pos"),
        when(col("in_v").isNotNull, col("tok")).otherwise(lit("<oov>")).as("w"))
    (vocab, mapped)
  }

  /** The bigram LM's lazy training tables — the ONE derivation that
    * [[bigramLogProb]] joins against and [[bigramModel]] collects: the
    * vocabulary, the per-doc bigram stream `bi` (id, w1, w2) off the LAG
    * window, and the count tables `c1` (w1, c1) / `c12` (w1, w2, c12),
    * bounded by (vocab+1) and (vocab+1)² — broadcastable. */
  private final case class BigramTables(vocab: DataFrame, bi: DataFrame,
                                        c1: DataFrame, c12: DataFrame)

  private def bigramTables(docs: DataFrame, idCol: String, textCol: String,
                           vocabSize: Int): BigramTables = {
    import org.apache.spark.sql.expressions.Window
    val (vocab, mapped) = oovMapped(docs, idCol, textCol, vocabSize)
    val byDoc = Window.partitionBy("id").orderBy("pos")
    val bi = mapped.withColumn("w1", lag("w", 1).over(byDoc))
      .filter(col("w1").isNotNull)
      .select(col("id"), col("w1"), col("w").as("w2"))
    val c1 = mapped.groupBy(col("w").as("w1")).agg(count(lit(1)).as("c1"))
    val c12 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    BigramTables(vocab, bi, c1, c12)
  }

  /**
   * C4-style LINE-GRAIN page cleaning (Raffel et al. 2020, the C4
   * corpus rules): keep only lines that end in terminal punctuation
   * (`. ! ? "`) AND carry at least `minLineWords` words; drop the whole
   * page when it contains any of `badPhrases` (case-insensitive), a
   * curly brace (the C4 "no code" heuristic), or fewer than
   * `minKeptLines` surviving lines. Returns one row per input doc:
   * `(id, n_lines, n_kept, bad_phrase, has_curly, dropped, text_clean)`
   * — flags rather than a silent filter, so callers can count what each
   * rule removed (the datasheet a pipeline audit wants).
   *
   * Scale shape: a pure per-row projection — one regex-filtered lambda
   * over the line array (bound ONCE to a named column; the r16
   * column-tree duplication trap), zero joins, zero shuffles, trivially
   * streaming-safe. All decisions are exact string/integer predicates,
   * so a DuckDB replay is bit-exact (entry `text_c4_clean`).
   */
  def c4Clean(docs: DataFrame, idCol: String, textCol: String,
              minLineWords: Int = 5, minKeptLines: Int = 3,
              badPhrases: Seq[String] = Seq("lorem ipsum"),
              banCurlyBrace: Boolean = true): DataFrame =
    docs.select(col(idCol).cast("long").as("id"),
        c4Columns(col(textCol), C4Rules(minLineWords, minKeptLines,
          badPhrases, banCurlyBrace)).as("__c4"))
      .select(col("id"), col("__c4.n_lines"), col("__c4.n_kept"),
        col("__c4.bad_phrase"), col("__c4.has_curly"),
        col("__c4.dropped"), col("__c4.text_clean"))

  /** The C4 rule parameters as a value object — the streaming gate's
    * configuration ([[graft.streaming.StreamingOps.curateStream]]'s
    * `c4=`). */
  final case class C4Rules(minLineWords: Int = 5, minKeptLines: Int = 3,
                           badPhrases: Seq[String] = Seq("lorem ipsum"),
                           banCurlyBrace: Boolean = true)

  /** The per-row CORE of [[c4Clean]] as one struct Column
    * `(n_lines, n_kept, bad_phrase, has_curly, dropped, text_clean)` —
    * shared by the batch operator and the streaming gate so the two
    * cannot disagree. The line array and the kept array each bind to a
    * lambda variable (the r16 duplication trap: an inlined Column tree
    * re-runs per reference). */
  def c4Columns(text: Column, rules: C4Rules): Column = {
    require(rules.minLineWords >= 1, "minLineWords must be >= 1")
    require(rules.minKeptLines >= 0, "minKeptLines must be >= 0")
    require(rules.badPhrases.forall(_.nonEmpty), "empty bad phrase")
    val badp = rules.badPhrases.map(p => lower(text).contains(lit(p)))
      .reduce(_ || _)
    val curly =
      if (rules.banCurlyBrace) text.contains(lit("{")) else lit(false)
    element_at(transform(array(split(text, "\n")), ls =>
      element_at(transform(array(filter(ls, l =>
        l.rlike("[.!?\"]$") &&
          size(split(l, " ")) >= rules.minLineWords)), kp =>
        struct(
          size(ls).cast("long").as("n_lines"),
          size(kp).cast("long").as("n_kept"),
          badp.as("bad_phrase"), curly.as("has_curly"),
          (badp || curly || size(kp) < lit(rules.minKeptLines))
            .as("dropped"),
          array_join(kp, "\n").as("text_clean"))), 1)), 1)
  }

  /** round(1e6·ln 0.4) as a FIXED literal — the stupid-backoff penalty
    * in micro-nats. A literal (not a computed ln) so backoff levels are
    * pure integer addition with zero cross-engine libm exposure. */
  val StupidBackoffPenaltyMicro: Long = -916291L

  /**
   * Trigram STUPID-BACKOFF LM quality score (Brants et al. 2007,
   * "Large Language Models in Machine Translation" — the backoff scheme
   * designed FOR web-scale corpora: raw count ratios, a constant 0.4
   * back-off multiplier, no discount normalization, no held-out
   * tuning). Per trigram position:
   *
   *   S(w3 | w1 w2) = c123 / c12                if c123 ≥ trigramMin
   *                 = 0.4 · c23 / c2            elif c23 ≥ bigramMin
   *                 = 0.4² · c3 / N             otherwise
   *
   * `trigramMin`/`bigramMin` are the standard count-pruning thresholds
   * (a production n-gram table drops singletons — that is ALSO what
   * makes backoff reachable when scoring the training corpus itself,
   * where every observed trigram otherwise has c123 ≥ 1). Scores are
   * log micro-nats: the 0.4 penalty is the fixed integer literal
   * [[StupidBackoffPenaltyMicro]] per backoff level, so only the
   * count-RATIO ln is libm (the same documented 1-ulp envelope as the
   * bigram scorer); sums are exact BIGINT, order-independent.
   *
   * Scale shape: OOV maps to one bucket FIRST, so every model table is
   * (vocab+1)^arity-bounded — (V+1)³ at worst — and broadcast; the
   * token-grain work is the one LAG shuffle keyed on doc id plus
   * map-side joins. Returns (id, n_trigrams, lp_sum_micro). Docs with
   * fewer than 3 tokens have no trigram and are absent.
   */
  def trigramStupidBackoff(docs: DataFrame, idCol: String, textCol: String,
                           vocabSize: Int = 20, trigramMin: Long = 2L,
                           bigramMin: Long = 2L): DataFrame = {
    val t = trigramTables(docs, idCol, textCol, vocabSize, trigramMin,
      bigramMin)
    val pen = lit(StupidBackoffPenaltyMicro)
    val lnMicro = (num: Column, den: Column) =>
      round(log(num.cast("double") / den.cast("double")) * 1e6).cast("long")
    t.tri
      .join(broadcast(t.triKept), Seq("w1", "w2", "w3"), "left")
      .join(broadcast(t.bi.select(col("b1").as("w1"), col("b2").as("w2"),
        col("cb").as("c12"))), Seq("w1", "w2"))
      .join(broadcast(t.bi.filter(col("cb") >= lit(bigramMin))
        .select(col("b1").as("w2"), col("b2").as("w3"),
          col("cb").as("c23"))), Seq("w2", "w3"), "left")
      .join(broadcast(t.uni.select(col("w").as("w2"), col("cu").as("c2"))),
        Seq("w2"))
      .join(broadcast(t.uni.select(col("w").as("w3"), col("cu").as("c3"))),
        Seq("w3"))
      .crossJoin(broadcast(t.nTotal))
      .select(col("id"),
        when(col("ct").isNotNull, lnMicro(col("ct"), col("c12")))
          .when(col("c23").isNotNull,
            pen + lnMicro(col("c23"), col("c2")))
          .otherwise(pen + pen + lnMicro(col("c3"), col("n_total")))
          .as("lp_micro"))
      .groupBy("id")
      .agg(count(lit(1)).cast("long").as("n_trigrams"),
        sum("lp_micro").as("lp_sum_micro"))
  }

  /** A trained stupid-backoff trigram LM as driver-side literals — the
    * deployable artifact of [[trigramStupidBackoff]]'s training pass.
    * `tri` holds only count-pruned trigrams (`ct >= trigramMin`); `bi`
    * holds ALL bigrams (it serves both the c12 denominator and, via the
    * `>= bigramMin` check at lookup, the backoff membership); keys are
    * space-joined (tokens come from a space split, so the separator is
    * collision-free). All maps are (vocab+1)^arity-bounded. */
  final case class TrigramModel(vocabSet: Set[String],
                                tri: Map[String, Long],
                                bi: Map[String, Long],
                                uni: Map[String, Long], nTotal: Long,
                                trigramMin: Long, bigramMin: Long)

  /** Train the trigram model batch-side — [[trigramStupidBackoff]]'s
    * training tables, collected (bounded by (V+1)³). */
  def trigramModel(docs: DataFrame, idCol: String, textCol: String,
                   vocabSize: Int = 20, trigramMin: Long = 2L,
                   bigramMin: Long = 2L): TrigramModel = {
    val t = trigramTables(docs, idCol, textCol, vocabSize, trigramMin,
      bigramMin)
    val triC = collectNgramCounts(t.triKept, 3)
    val biC = collectNgramCounts(t.bi, 2)
    val uniC = collectNgramCounts(t.uni, 1)
    TrigramModel(t.vocab.collect().map(_.getString(0)).toSet, triC, biC,
      uniC, uniC.values.sum, trigramMin, bigramMin)
  }

  /** The trigram LM's lazy training tables — the ONE derivation that
    * [[trigramStupidBackoff]] joins against and [[trigramModel]]
    * collects: the vocabulary, the per-doc trigram stream `tri` (id, w1,
    * w2, w3) off the LAG window, the count-pruned trigram table
    * `triKept` (w1, w2, w3, ct), ALL bigrams `bi` (b1, b2, cb), unigrams
    * `uni` (w, cu) and the 1-row mapped-token total `nTotal`. */
  private final case class TrigramTables(vocab: DataFrame, tri: DataFrame,
                                         triKept: DataFrame, bi: DataFrame,
                                         uni: DataFrame, nTotal: DataFrame)

  private def trigramTables(docs: DataFrame, idCol: String, textCol: String,
                            vocabSize: Int, trigramMin: Long,
                            bigramMin: Long): TrigramTables = {
    import org.apache.spark.sql.expressions.Window
    require(vocabSize >= 1 && vocabSize <= 256,
      s"vocabSize must be in [1, 256] (the (V+1)^3 trigram table is " +
        s"broadcast — keep it bounded), got $vocabSize")
    require(trigramMin >= 1L && bigramMin >= 1L,
      "count-pruning thresholds must be >= 1")
    val (vocab, mapped) = oovMapped(docs, idCol, textCol, vocabSize)
    val byDoc = Window.partitionBy("id").orderBy("pos")
    val tri = mapped
      .withColumn("w2", lag("w", 1).over(byDoc))
      .withColumn("w1", lag("w", 2).over(byDoc))
      .filter(col("w1").isNotNull)
      .select(col("id"), col("w1"), col("w2"), col("w").as("w3"))
    val uni = mapped.groupBy(col("w")).agg(count(lit(1)).as("cu"))
    val bi = mapped.withColumn("wp", lag("w", 1).over(byDoc))
      .filter(col("wp").isNotNull)
      .groupBy(col("wp").as("b1"), col("w").as("b2"))
      .agg(count(lit(1)).as("cb"))
    val triKept = tri.groupBy("w1", "w2", "w3").agg(count(lit(1)).as("ct"))
      .filter(col("ct") >= lit(trigramMin))
    val nTotal = mapped.agg(count(lit(1)).cast("long").as("n_total"))
    TrigramTables(vocab, tri, triKept, bi, uni, nTotal)
  }

  /** Per-row stupid-backoff scoring Columns — the FOLD form of
    * [[trigramStupidBackoff]]'s inference for a trained
    * [[TrigramModel]] (map literals, one pure projection — no join, no
    * window, streaming-safe) and bit-equal to the batch scorer on every
    * doc both emit (same three-branch CASE, same pruning predicates).
    * On NEW text, a token absent from the training tables backs its
    * unigram count to 1 (a singleton estimate — the batch form never
    * meets this case on its own corpus). Returns
    * (n_trigrams, lp_sum_micro); docs under 3 tokens fold to (0, 0). */
  def trigramScoreColumns(m: TrigramModel, text: Column): (Column, Column) = {
    val pen = lit(StupidBackoffPenaltyMicro)
    val t = tokens(text)
    val mapped = transform(t, w =>
      when(w.isInCollection(m.vocabSet), w).otherwise(lit("<oov>")))
    val len3 = greatest(size(mapped) - lit(2), lit(0))
    val trips = arrays_zip(
      slice(mapped, lit(1), len3),
      slice(mapped, lit(2), len3),
      slice(mapped, lit(3), len3))
    def lnM(num: Column, den: Column): Column =
      round(log(num.cast("double") / den.cast("double")) * 1e6).cast("long")
    val lps = transform(trips, p => {
      val ct = element_at(typedLit(m.tri),
        ngramKey(p.getField("0"), p.getField("1"), p.getField("2")))
      val c12 = coalesce(element_at(typedLit(m.bi),
        ngramKey(p.getField("0"), p.getField("1"))), lit(1L))
      val c23 = element_at(typedLit(m.bi),
        ngramKey(p.getField("1"), p.getField("2")))
      val c2 = coalesce(element_at(typedLit(m.uni), p.getField("1")), lit(1L))
      val c3 = coalesce(element_at(typedLit(m.uni), p.getField("2")), lit(1L))
      when(ct.isNotNull, lnM(ct, c12))
        .when(c23.isNotNull && c23 >= lit(m.bigramMin),
          pen + lnM(c23, c2))
        .otherwise(pen + pen + lnM(c3, lit(m.nTotal)))
    })
    // |trips| = max(|tokens| - 2, 0) exactly — don't size(lps) (the
    // r16 duplication trap would re-run every map lookup just to count)
    (greatest(size(t).cast("long") - lit(2L), lit(0L)),
      coalesce(aggregate(lps, lit(0L), (acc, x) => acc + x), lit(0L)))
  }

  /** Hashing-trick linear scorer over token BIGRAMS — the plumbing of a
    * fastText-style model-based quality filter: each bigram hashes into
    * one of `buckets` weight slots, the document's score is the mean
    * slot weight. The weight vector here derives deterministically from
    * the slot index (micro-units in [-1000, 1000] off md5 — a stand-in
    * for trained weights, which would arrive as a broadcast array with
    * the SAME lookup shape); what the operator exercises for real is
    * the at-scale layout: bounded state regardless of vocabulary (the
    * hashing trick's point), no model join at all — bucket and weight
    * are pure per-row codegen'd arithmetic, so the whole scorer is one
    * explode + one per-doc aggregate. Docs with fewer than 2 tokens
    * have no bigram and are absent from the output. All intermediates
    * stay < 2^53, so the DuckDB oracle replays it bit-exactly.
    *
    * Returns (id, n_bigrams, score_sum_micro). */
  def hashedBigramScore(docs: DataFrame, idCol: String, textCol: String,
                        buckets: Int, seed: String): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val t = tokens(col(textCol))
    val pairs = docs.select(col(idCol).as("id"),
        explode(arrays_zip(
            slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1)))
          .as("p"))
      .select(col("id"),
        concat(col("p").getField("0"), lit("_"), col("p").getField("1"))
          .as("bg"))
    // slot = 52-bit md5 prefix of (seed, bigram) mod buckets; weight =
    // 52-bit md5 prefix of ('w', slot) mod 2001, shifted to [-1000,1000]
    val slot = pmod(
      conv(substring(md5(concat(lit(seed), lit("_"), col("bg"))), 1, 13),
        16, 10).cast("long"), lit(buckets.toLong))
    val weight = pmod(
      conv(substring(md5(concat(lit("w"), slot.cast("string"))), 1, 13),
        16, 10).cast("long"), lit(2001L)) - lit(1000L)
    pairs.select(col("id"), weight.as("w_micro"))
      .groupBy("id")
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        sum("w_micro").as("score_sum_micro"))
  }

  /** A trained bigram LM as driver-side literals, the deployable
    * artifact of [[bigramLogProb]]'s training pass: `vocabSet` for the
    * OOV mapping, `c1` (w1 → count) and `c12` ("w1 w2" → count, keys
    * space-joined like [[TrigramModel]]'s) the smoothed-probability
    * count tables (all (vocab+1)²-bounded), `vSize` the vocabulary
    * size. Consumed by [[bigramScoreColumns]]. */
  final case class BigramModel(vocabSet: Set[String], c1: Map[String, Long],
                               c12: Map[String, Long], vSize: Long)

  /** Train the bigram model batch-side — [[bigramLogProb]]'s training
    * tables (top-`vocabSize` vocabulary, OOV mapped FIRST, unigram +
    * bigram counts over the mapped stream), collected. */
  def bigramModel(docs: DataFrame, idCol: String, textCol: String,
                  vocabSize: Int = 20): BigramModel = {
    val t = bigramTables(docs, idCol, textCol, vocabSize)
    val vocabSet = t.vocab.collect().map(_.getString(0)).toSet
    BigramModel(vocabSet, collectNgramCounts(t.c1, 1),
      collectNgramCounts(t.c12, 2), vocabSet.size.toLong)
  }

  /** Per-row bigram-LM scoring Columns — the FOLD form of
    * [[bigramLogProb]]'s inference pass for a TRAINED [[BigramModel]]:
    * the model's (vocab+1)²-bounded count tables ride as map literals
    * and each document scores in one pure projection (no explode to a
    * row fan-out, no join, no aggregation, no window) — the shape a
    * streaming scorer needs ([[graft.streaming.StreamingOps
    * .scoreStreamBigram]], [[graft.streaming.StreamingOps
    * .curateStream]]'s `lmGate`) and bit-equal to the batch scorer on
    * every doc both emit. Returns (n_bigrams, lp_sum_micro); a bigram
    * UNSEEN in training scores with c12 = 0 under the same add-one
    * smoothing (the batch trainer never emits such a pair for its own
    * corpus, so bit-equality against [[bigramLogProb]] holds on the
    * training corpus; on NEW text this fold is the definition).
    * Single-token docs have no bigram: n_bigrams = 0, lp_sum_micro = 0.
    *
    * 100 TB shape: model state is O((vocab+1)²) literals riding the
    * closure — vocabularies beyond literal scale belong to
    * [[hashedLinearTrain]]'s hashing-trick family instead. */
  def bigramScoreColumns(m: BigramModel, text: Column): (Column, Column) = {
    val t = tokens(text)
    val mapped = transform(t, w =>
      when(w.isInCollection(m.vocabSet), w).otherwise(lit("<oov>")))
    val pairs = arrays_zip(
      slice(mapped, lit(1), size(mapped) - 1),
      slice(mapped, lit(2), size(mapped) - 1))
    val lps = transform(pairs, p => {
      val c12v = coalesce(
        element_at(typedLit(m.c12),
          ngramKey(p.getField("0"), p.getField("1"))), lit(0L))
      val c1v = coalesce(element_at(typedLit(m.c1), p.getField("0")), lit(0L))
      round(log((c12v + lit(1L)).cast("double") /
          (c1v + lit(m.vSize) + lit(1L)).cast("double")) * 1e6).cast("long")
    })
    // the count does NOT reference `lps` — a Column val INLINES its
    // whole tree at every reference (the r16 column-duplication trap),
    // and size(lps) would re-run every map lookup just to count;
    // |pairs| = |tokens| - 1 exactly (split always yields >= 1 token)
    (size(t).cast("long") - lit(1L),
      coalesce(aggregate(lps, lit(0L), (acc, x) => acc + x), lit(0L)))
  }

  /** Exact floor-division mean score in micro-nats — the ONE spelling
    * of CCNet's per-doc perplexity surrogate (`lp_sum_micro` is
    * negative, so plain integer division would truncate toward zero and
    * disagree with the DuckDB replay's `((x % n) + n) % n` floor
    * idiom). NULL when `nBigrams` = 0 (a bigram-less doc has no mean). */
  def avgLpMicro(lpSum: Column, nBigrams: Column): Column =
    // integral `div`, never `/`: long/long Column `/` is DOUBLE and
    // silently loses precision above 2^53 (repo invariant); the
    // pmod-adjusted numerator is exactly divisible, so truncating div
    // IS the floor division
    when(nBigrams > 0,
      call_function("div", lpSum - pmod(lpSum, nBigrams), nBigrams))

  // ---- CCNet-style perplexity bucketing (Wenzek et al.) ---------------

  /**
   * Per-language head/middle/tail bucketing by EXACT score terciles —
   * the CCNet quality stage (Wenzek et al.): within each language,
   * documents rank by LM score (higher mean log-prob = lower perplexity
   * = better), and the top third is `head`, the middle third `middle`,
   * the rest `tail`. Rank `r` (1-based, ordered score DESC with id ASC
   * tie-break — total and engine-independent) against the language's
   * doc count `n`: head ⟺ 3r ≤ n, middle ⟺ 3r ≤ 2n — exact integer
   * arithmetic, no percent_rank doubles. NULL scores or langs raise.
   *
   * Returns (id, lang, score_micro, rk, n_lang, bucket).
   *
   * Scale shape: ONE window partitioned by language — per-language
   * sorts, the canonical CCNet batch job. When one language dominates a
   * 100-TB corpus, compute the terciles on a calibration sample with
   * THIS operator, freeze the boundary scores via [[pplThresholds]],
   * and assign the full corpus per-row with [[pplAssign]] (CCNet ships
   * exactly that: cutoffs learned once on a Wikipedia-sized sample,
   * applied per-shard).
   */
  def pplBuckets(scored: DataFrame, idCol: String, langCol: String,
                 scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val guarded = scored.select(
      when(col(idCol).isNull,
          raise_error(lit("pplBuckets: NULL id"))).otherwise(col(idCol))
        .cast("long").as("id"),
      when(col(langCol).isNull,
          raise_error(lit("pplBuckets: NULL lang"))).otherwise(col(langCol))
        .as("lang"),
      when(col(scoreCol).isNull,
          raise_error(lit("pplBuckets: NULL score"))).otherwise(col(scoreCol))
        .cast("long").as("score_micro"))
    val byLang = Window.partitionBy("lang")
    guarded
      .withColumn("rk", row_number().over(
        byLang.orderBy(col("score_micro").desc, col("id"))).cast("long"))
      .withColumn("n_lang", count(lit(1)).over(byLang).cast("long"))
      .withColumn("bucket",
        when(col("rk") * 3 <= col("n_lang"), lit("head"))
          .when(col("rk") * 3 <= col("n_lang") * 2, lit("middle"))
          .otherwise(lit("tail")))
  }

  /** Freeze [[pplBuckets]]' tercile boundaries as per-language cutoff
    * scores: (lang, head_min_micro, middle_min_micro) — the WORST score
    * still inside each bucket; NULL when the bucket is empty for that
    * language (n < 3 langs have no head). Feed to [[pplAssign]] /
    * `lmGate` for per-row assignment of an unbounded corpus. */
  def pplThresholds(bucketed: DataFrame): DataFrame =
    bucketed.groupBy("lang").agg(
      min(when(col("bucket") === "head", col("score_micro")))
        .as("head_min_micro"),
      min(when(col("bucket") === "middle", col("score_micro")))
        .as("middle_min_micro"))

  /** Per-row bucket assignment against frozen [[pplThresholds]] cutoffs
    * — the production form (pure projection, no window). Ties AT a
    * boundary score all take the better bucket (the rank form split
    * them by id), so threshold assignment equals rank assignment
    * exactly when boundary scores are unique — document-grain scores in
    * micro-nats make cross-doc ties vanishingly rare, and the
    * difference is only ever bucket-flattering. */
  def pplAssign(score: Column, headMin: Column, middleMin: Column): Column =
    when(headMin.isNotNull && score >= headMin, lit("head"))
      .when(middleMin.isNotNull && score >= middleMin, lit("middle"))
      .otherwise(lit("tail"))

  /** Per-language corpus stats table. */
  def corpusStats(docs: DataFrame, langCol: String, textCol: String,
                  charsCol: String): DataFrame =
    docs.groupBy(col(langCol).as("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(charsCol)).cast("bigint").as("total_chars"),
        (sum(col(charsCol)).cast("double") / count(lit(1))).as("avg_chars"),
        sum(tokenCount(col(textCol))).cast("bigint").as("total_toks"),
        expr(s"CAST(percentile($charsCol, 0.5) AS DOUBLE)").as("p50_chars"))

  // ---- BPE tokenizer TRAINING (corpus-scale merge learning) ----------

  /** Escape a learned symbol for embedding as a SQL string literal inside
    * an `expr(...)` lambda (Spark uses backslash escaping). */
  private def sqlLit(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** Character-symbol sequence of a word, as a SQL expression over
    * column `w`: `(.)`-split with empties dropped ('.' matches a full
    * code point in both java.util.regex and RE2, so multibyte text
    * symbolizes identically across engines). */
  private val charSymsExpr =
    "filter(split(regexp_replace(w, '(.)', '$1 '), ' '), x -> x != '')"

  /** One greedy-left BPE merge application as a SQL fold over a symbol
    * array: scan symbols left to right, fusing `l`+`r` whenever the
    * accumulator's last symbol is `l` and the next is `r`. Exactly the
    * reference greedy semantics — a fused symbol (`l||r` ≠ `l`, since
    * `r` is nonempty) can never immediately re-fuse, and overlapping
    * `l=r` runs fuse every other pair, left first. Pure per-row
    * projection: NO shuffle per merge application. */
  private def mergeFold(symsExpr: String, l: String, r: String): String =
    s"aggregate($symsExpr, CAST(array() AS ARRAY<STRING>), (acc, s) -> " +
      s"CASE WHEN size(acc) > 0 AND element_at(acc, -1) = ${sqlLit(l)} " +
      s"AND s = ${sqlLit(r)} " +
      s"THEN concat(slice(acc, 1, size(acc) - 1), array(${sqlLit(l + r)})) " +
      s"ELSE concat(acc, array(s)) END)"

  /** The weighted word vocabulary BPE trains on: one corpus shuffle
    * keyed on the whitespace word — everything after runs at VOCAB
    * grain (distinct words × counts), the shape that makes tokenizer
    * training tractable at corpus scale. */
  private def wordVocab(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))

  /**
   * Learn `nMerges` BPE merges over the corpus (Sennrich et al., the
   * standard subword-tokenizer training loop): words → (word, count)
   * vocabulary (ONE corpus shuffle); then per merge, count adjacent
   * symbol pairs weighted by word frequency (a vocab-grain aggregate),
   * pick the most frequent pair (ties: count desc, then pair bytes asc —
   * deterministic on any engine), and fuse it greedily in every vocab
   * word via [[mergeFold]] (per-row, no shuffle). The driver sees ONE
   * row per iteration (the argmax pair) — aggregates only. No
   * end-of-word marker (pure inner-word merges; adding one is a
   * symbolization change, not a loop change).
   *
   * Returns (merge_rank, lhs, rhs) in learned order.
   *
   * 100 TB shape: the corpus is touched once (word count); each of the
   * `nMerges` iterations scans only the cached vocabulary, and the pair
   * aggregate is bounded by (distinct adjacent pairs), far below vocab
   * size. Iterations persist their fused vocabulary and drop the prior
   * one, so lineage stays one fold deep regardless of `nMerges`.
   */
  def trainBpeMerges(docs: DataFrame, idCol: String, textCol: String,
                     nMerges: Int): DataFrame = {
    require(nMerges > 0, "nMerges must be positive")
    val spark = docs.sparkSession
    // r19 (guide §1/job-count): generations persist WITHOUT an eager
    // count() job — the next iteration's argmax action materializes the
    // cache read-through (each generation is one fold over its cached
    // parent, so the lazy chain stays one level deep). r20 (§5): the
    // argmax at iteration k is the action that fills generation k's
    // cache, after which generation k−1's cache has no consumer left —
    // unpersist it right there, capping live cached generations at 2
    // (was O(nMerges): fine at bench merge counts, but a production
    // train of 10⁴ merges would hold 10⁴ vocab-scale frames and lean on
    // LRU eviction). The job-count win is untouched — no extra action.
    var parent: Option[DataFrame] = None
    var cur = wordVocab(docs, textCol)
      .withColumn("syms", expr(charSymsExpr))
      .select(col("cnt"), col("syms")).persist()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    try {
      for (k <- 1 to nMerges) {
        val top = cur.filter(size(col("syms")) >= 2)
          .select(col("cnt"), expr(
            "explode(transform(sequence(1, size(syms) - 1), " +
              "i -> struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r)))")
            .as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum("cnt").as("c"))
          .orderBy(col("c").desc, col("l"), col("r"))
          .limit(1).collect()
        // cur's cache is materialized now; its parent has no reader left
        parent.foreach(_.unpersist())
        parent = None
        require(top.nonEmpty,
          s"BPE training exhausted adjacent pairs after ${k - 1} merges " +
            s"(asked for $nMerges) — every word is a single symbol")
        val (l, r) = (top.head.getString(0), top.head.getString(1))
        merges += ((l, r))
        if (k < nMerges) { // the last fused vocab is never re-scanned
          parent = Some(cur)
          cur = cur.withColumn("syms", expr(mergeFold("syms", l, r)))
            .persist()
        }
      }
    } finally {
      parent.foreach(_.unpersist())
      cur.unpersist()
    }
    import org.apache.spark.sql.{Row, types => T}
    val rows = merges.toSeq.zipWithIndex.map { case ((l, r), i) =>
      Row((i + 1).toLong, l, r)
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava),
      T.StructType(Seq(
        T.StructField("merge_rank", T.LongType, nullable = false),
        T.StructField("lhs", T.StringType, nullable = false),
        T.StructField("rhs", T.StringType, nullable = false))))
  }

  /** Each nested fold adds one recursion level to parse/analyze/eval of
    * the single merge-chain expression — fine for the tens of merges a
    * study or a filter-stage tokenizer uses, but a production-size merge
    * list (thousands) would blow the expression tree up. The per-row
    * form caps loudly at this depth; [[bpeSegmentCount]] materializes
    * the vocabulary every [[MergeChunk]] folds instead, so IT has no
    * cap (the trainer's own iterative shape). */
  val MaxInlineMerges = 64

  /** [[bpeSegmentCount]]'s per-step fold count: merges apply in chunks
    * of this many nested folds per materialized vocabulary pass. */
  val MergeChunk = 16

  /** Per-ROW BPE token count under PRE-TRAINED merges, as one Column —
    * a pure projection (no explode, no join, no shuffle), so the SAME
    * expression runs on a batch frame or an append-mode stream: the
    * serving-path twin of [[bpeSegmentCount]] (identical per-word fold,
    * so counts are bit-equal; the batch form's vocab-grain join is the
    * cheaper shape when words repeat across a large corpus, this form
    * is the right one for rows arriving one at a time). A NULL text
    * counts 0, matching the batch form's wordless-doc row. At most
    * [[MaxInlineMerges]] merges (the whole chain is ONE nested
    * expression here — see the cap's scaladoc); bigger merge lists
    * belong on the vocab-grain path. Outer lambda variables are named
    * apart from the fold's (`tacc`/`w` vs `acc`/`s`) — Spark resolves
    * nested lambda variables by name. */
  def bpeTokenCountTrained(textColName: String,
                           merges: Seq[(String, String)]): Column = {
    require(merges.size <= MaxInlineMerges,
      s"${merges.size} merges exceed the $MaxInlineMerges-deep inline " +
        "expression cap — segment via bpeSegmentCount (vocab-grain, " +
        "uncapped) instead")
    val foldedExpr = merges.foldLeft(charSymsExpr) {
      case (e, (l, r)) => mergeFold(e, l, r)
    }
    coalesce(
      expr(s"aggregate(filter(split($textColName, ' '), x -> x != ''), " +
        s"CAST(0 AS BIGINT), (tacc, w) -> tacc + size($foldedExpr))"),
      lit(0L))
  }

  /** Per-ROW BPE segment ARRAY under PRE-TRAINED merges, as one
    * Column — the array-valued twin of [[bpeTokenCountTrained]] (same
    * inline fold, same [[MaxInlineMerges]] cap) and the serving-path
    * twin of [[bpeSegments]] (bit-equal arrays: both apply the same
    * greedy fold per word in word order): a pure projection, so the
    * SAME expression runs on a batch frame or an append-mode stream —
    * the shape a streaming gate uses to tokenize arriving docs with a
    * batch-trained tokenizer. A NULL text yields an EMPTY array,
    * matching the batch form's wordless-doc row. */
  def bpeSegmentsTrained(textColName: String,
                         merges: Seq[(String, String)]): Column = {
    require(merges.size <= MaxInlineMerges,
      s"${merges.size} merges exceed the $MaxInlineMerges-deep inline " +
        "expression cap — segment via bpeSegments (vocab-grain, " +
        "uncapped) instead")
    val foldedExpr = merges.foldLeft(charSymsExpr) {
      case (e, (l, r)) => mergeFold(e, l, r)
    }
    coalesce(
      expr(s"flatten(transform(filter(split($textColName, ' '), " +
        s"x -> x != ''), w -> $foldedExpr))"),
      expr("CAST(array() AS ARRAY<STRING>)"))
  }

  /**
   * Segment the corpus with a learned merge list and count the resulting
   * BPE tokens per document: each DISTINCT word is symbolized and folded
   * through the merges ONCE (vocab grain — the merge chain is a pure
   * projection), then documents re-join their words and sum. Wordless
   * documents keep a 0 row. Returns (id, n_bpe).
   */
  def bpeSegmentCount(docs: DataFrame, idCol: String, textCol: String,
                      merges: Seq[(String, String)]): DataFrame = {
    val words = docs.select(col(idCol).as("id"),
        explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val vocab = foldedVocabSyms(words.select("w").distinct(), merges)
      .select(col("w"), size(col("syms")).cast("long").as("n_tok"))
    val perDoc = words.join(vocab, Seq("w"))
      .groupBy("id").agg(sum("n_tok").as("n_bpe"))
    docs.select(col(idCol).as("id")).distinct()
      .join(perDoc, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_bpe"), lit(0L)).as("n_bpe"))
  }

  /** Fold the merge chain over a DISTINCT-word vocabulary frame (one
    * `w` column) in chunks of [[MergeChunk]] nested folds per
    * materialized pass (persist the fused frame, drop the prior — the
    * trainer's own iterative shape), so ANY merge-list size works:
    * expression depth stays bounded while the corpus is only ever
    * touched by the caller's one explode + final join. Returns
    * (w, syms). Shared by [[bpeSegmentCount]] (counting) and
    * [[bpeSegments]] (materialized per-document streams) so the two
    * can never disagree on a word's segmentation.
    *
    * NOTE: intermediate vocab frames stay cached until the caller's
    * action completes; they are vocab-sized (small) and MEMORY_AND_DISK
    * by default. The LAST chunk is left unmaterialized so single-chunk
    * calls (the common case) keep the original one-pass plan. */
  private def foldedVocabSyms(distinctWords: DataFrame,
                              merges: Seq[(String, String)]): DataFrame = {
    val chunks = merges.grouped(MergeChunk).toSeq
    var cur = distinctWords.withColumn("syms", expr(charSymsExpr))
    val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      val folded = chunk.foldLeft("syms") {
        case (e, (l, r)) => mergeFold(e, l, r)
      }
      cur = cur.withColumn("syms", expr(folded))
      if (i < chunks.size - 1) { // intermediate pass: materialize + swap
        cur = cur.persist()
        cur.count(): Unit
        persisted.lastOption.foreach(_.unpersist())
        persisted += cur
      }
    }
    cur
  }

  /** Materialized per-document BPE segment STREAMS under a learned
    * merge list — the array-valued twin of [[bpeSegmentCount]]
    * (`size(segs)` is bit-equal to its `n_bpe` by construction: both
    * route every word through [[foldedVocabSyms]]'s one fold): each
    * DISTINCT word folds through the merges ONCE (vocab grain), then
    * documents reassemble their words' segment arrays in word order.
    * Wordless documents keep an EMPTY-array row. Returns (id, segs).
    *
    * This is the tokenize-then-MATERIALIZE shape
    * [[graft.operators.Curation.packShuffledBinsSegs]] consumes: bins
    * budgeted in real BPE units get their contents cut at BPE-segment
    * grain, not whitespace grain.
    *
    * Scale shape: the corpus pays one word explode + one vocab join +
    * one doc-grain reassembly aggregate (per-doc state = that doc's own
    * segments — never corpus-sized); the merge fold itself runs at
    * vocab grain only. */
  def bpeSegments(docs: DataFrame, idCol: String, textCol: String,
                  merges: Seq[(String, String)]): DataFrame = {
    val words = docs.select(col(idCol).as("id"),
        posexplode(split(col(textCol), " ")).as(Seq("wpos", "w")))
      .filter(length(col("w")) > 0)
    val vocab = foldedVocabSyms(words.select("w").distinct(), merges)
    // array_sort of (wpos, syms) structs orders by the first field, so
    // flatten rebuilds the document's segment stream in word order
    val perDoc = words.join(vocab, Seq("w"))
      .groupBy("id")
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("wpos"), col("syms")))),
        p => p.getField("syms"))).as("segs"))
    docs.select(col(idCol).as("id")).distinct()
      .join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("segs"), expr("CAST(array() AS ARRAY<STRING>)"))
          .as("segs"))
  }

  /** GOPHER-style quality-rule bundle (Rae et al. 2021, the standard
    * pre-training document filter set), reduced to EXACT-INTEGER per-row
    * flags — every ratio rule is a cross-multiplication, so there is no
    * float boundary for two engines to disagree on:
    *  - word count within [minWords, maxWords];
    *  - mean word length within [minMeanLen, maxMeanLen]
    *    (`minMeanLen·n ≤ Σlen ≤ maxMeanLen·n`);
    *  - at least `minStopwords` DISTINCT stopwords present (the
    *    "real prose" signal);
    *  - ≥ 80% of words contain an alphabetic character (`5·alpha ≥ 4·n`);
    *  - ≤ 10% pure-symbol words (`10·sym ≤ n`).
    * Emits one row per doc with the inputs, each rule flag (int 0/1)
    * and the composite `keep`. Pure per-row projection — apply as a
    * batch filter or unchanged on an append-mode stream. */
  /** The five Gopher rule parameters as one value — threads the bundle
    * through composition points ([[gopherKeep]], the streaming
    * [[graft.streaming.StreamingOps.curateStream]] gate) without
    * five-arg plumbing. Defaults match [[gopherQualityFlags]]. */
  final case class GopherRules(minWords: Int = 50, maxWords: Int = 100000,
                               minMeanLen: Int = 3, maxMeanLen: Int = 10,
                               minStopwords: Int = 2)

  /** The rule INPUTS over a text Column — (n_words, Σ word chars,
    * distinct stopwords, alphabetic words, pure-symbol words), shared by
    * the flags relation and the composite [[gopherKeep]] gate so the two
    * can never drift. */
  private def gopherCounts(text: Column)
      : (Column, Column, Column, Column, Column) = {
    val w = tokens(text)
    val n = size(w).cast("long")
    val chars = aggregate(transform(w, x => length(x).cast("long")),
      lit(0L), (acc, x) => acc + x)
    val nStop = size(array_intersect(array_distinct(w),
      typedLit(stopwords))).cast("long")
    val nAlpha = size(filter(w, x => x.rlike("[a-zA-Z]"))).cast("long")
    val nSym = size(filter(w,
      x => x =!= "" && !x.rlike("[a-zA-Z0-9]"))).cast("long")
    (n, chars, nStop, nAlpha, nSym)
  }

  /** The composite Gopher keep decision as ONE boolean Column — the
    * filter-predicate form of [[gopherQualityFlags]]'s `keep` (exact
    * same cross-multiplied integer rules), usable as a batch filter or
    * unchanged on an append-mode stream. */
  def gopherKeep(text: Column, rules: GopherRules = GopherRules()): Column = {
    val (n, chars, nStop, nAlpha, nSym) = gopherCounts(text)
    n >= rules.minWords && n <= rules.maxWords &&
      chars >= lit(rules.minMeanLen.toLong) * n &&
      chars <= lit(rules.maxMeanLen.toLong) * n &&
      nStop >= rules.minStopwords &&
      nAlpha * 5 >= n * 4 && nSym * 10 <= n
  }

  def gopherQualityFlags(docs: DataFrame, idCol: String, textCol: String,
                         minWords: Int = 50, maxWords: Int = 100000,
                         minMeanLen: Int = 3, maxMeanLen: Int = 10,
                         minStopwords: Int = 2): DataFrame = {
    val (n, chars, nStop, nAlpha, nSym) = gopherCounts(col(textCol))
    def flag(c: Column): Column = when(c, 1).otherwise(0)
    val fWords = flag(n >= minWords && n <= maxWords)
    val fMean = flag(chars >= lit(minMeanLen.toLong) * n &&
      chars <= lit(maxMeanLen.toLong) * n)
    val fStop = flag(nStop >= minStopwords)
    val fAlpha = flag(nAlpha * 5 >= n * 4)
    val fSym = flag(nSym * 10 <= n)
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), n.as("n_words"), chars.as("n_chars"),
        nStop.as("n_stopwords"),
        fWords.as("flag_words"), fMean.as("flag_mean_len"),
        fStop.as("flag_stopwords"), fAlpha.as("flag_alpha"),
        fSym.as("flag_symbols"),
        (fWords * fMean * fStop * fAlpha * fSym).as("keep"))
  }

  /** TF-IDF keyword extraction: the top-k most characteristic tokens per
    * document — the classic content-tagging / topic-surfacing op of a
    * curation pipeline. `score = tf × idf` with the smoothed
    * `idf = ln((N+1)/(df+1))` quantized to integer micro-nats, so the
    * per-doc ranking (score desc, token asc) is exact and deterministic
    * cross-engine — `tf` (BIGINT) times `idf_micro` (BIGINT) never
    * touches float arithmetic.
    *
    * Scale shape: one token-grain shuffle builds per-(doc, token) term
    * frequencies; document frequencies fall out of THAT frame with one
    * token-grain aggregate (tf rows are already distinct per doc — no
    * second corpus pass); the corpus size joins as a broadcast 1-row
    * aggregate; the final top-k is a per-doc window over the doc's own
    * distinct tokens. No driver-side state at any corpus size. */
  def tfIdfKeywords(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "k must be >= 1")
    val tf = docs.select(col(idCol).as("id"),
        explode(tokens(col(textCol))).as("tok"))
      .groupBy("id", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).cast("long").as("n_docs"))
    val scored = tf.join(dfreq, Seq("tok"))
      .crossJoin(broadcast(nDocs))
      .select(col("id"), col("tok"),
        (col("tf") * round(log((col("n_docs") + lit(1L)).cast("double") /
            (col("df") + lit(1L)).cast("double")) * 1e6).cast("long"))
          .as("score_micro"))
    val byDoc = Window.partitionBy("id")
      .orderBy(col("score_micro").desc, col("tok"))
    scored.withColumn("rnk", row_number().over(byDoc).cast("int"))
      .filter(col("rnk") <= k)
      .select("id", "tok", "rnk", "score_micro")
  }

  /** A trained multinomial Naive Bayes text classifier — the deployable
    * artifact of [[nbTrain]]: `vocab` (tok) the top-V vocabulary,
    * `clsTok` (label, tok, ctk) per-class token counts over vocab
    * tokens, `clsTot` (label, ctot) per-class TOTAL token counts (OOV
    * included — the multinomial denominator), `prior` (label,
    * prior_micro) the log-prior in integer micro-nats, `vSize` the
    * vocabulary size. All tables are bounded by V (vocabulary) × L
    * (labels) — broadcastable at any corpus scale. Consumed by
    * [[nbPredict]] and its per-row fold twin [[nbPredictFold]]. */
  final case class NbModel(vocab: DataFrame, clsTok: DataFrame,
                           clsTot: DataFrame, prior: DataFrame, vSize: Long)

  /** Train a multinomial Naive Bayes classifier over labeled documents
    * (the model-based quality/domain filter of a curation pipeline —
    * CCNet/fastText shape, reduced to pure count aggregates so training
    * is exact, distributed, and SQL-replayable). One token-grain shuffle
    * builds the vocabulary and the per-class counts; priors come from
    * per-class DOCUMENT counts. Laplace (add-one) smoothing throughout:
    * P(tok|c) = (ctk+1)/(ctot+V+1), with every token outside the top-V
    * vocabulary falling to the OOV mass 1/(ctot+V+1). Probabilities are
    * quantized to integer MICRO-NATS (the [[unigramLogProb]] envelope:
    * exact counts, one `ln` per distinct (token, label), BIGINT sums —
    * order-independent under any partitioning). */
  def nbTrain(docs: DataFrame, idCol: String, textCol: String,
              labelCol: String, vocabSize: Int = 1000): NbModel = {
    val toks = docs.select(col(labelCol).as("label"),
      explode(tokens(col(textCol))).as("tok"))
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val vocab = counts.orderBy(col("cnt").desc, col("tok")).limit(vocabSize)
      .select("tok")
    val clsTok = toks.join(broadcast(vocab), Seq("tok"))
      .groupBy("label", "tok").agg(count(lit(1)).as("ctk"))
    val clsTot = toks.groupBy("label").agg(count(lit(1)).as("ctot"))
    val nDocs = docs.agg(count(lit(1)).cast("long").as("n_docs"))
    val prior = docs.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("cdocs"))
      .crossJoin(broadcast(nDocs))
      .select(col("label"),
        round(log(col("cdocs").cast("double") / col("n_docs").cast("double"))
          * 1e6).cast("long").as("prior_micro"))
    NbModel(vocab, clsTok, clsTot, prior, vocab.count())
  }

  /** Score documents against every class of a trained [[NbModel]] and
    * keep the argmax: predicted label + its total score in micro-nats.
    * Ties break to the lexicographically smallest label (exact in
    * integer space, so deterministic cross-engine).
    *
    * Scale shape: the only fan-out is tokens × L (labels — single
    * digits in practice) through BROADCAST joins, immediately collapsed
    * by a map-side-combined (id, label) aggregate; the final argmax is
    * a per-doc window over L rows. No corpus-sized model join, no
    * driver loop — every model table is V×L-bounded and broadcast.
    * Docs whose text produces no tokens are absent from the output
    * (`split` never returns an empty array, so only null text drops). */
  def nbPredict(model: NbModel, docs: DataFrame, idCol: String,
                textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("id"),
      explode(tokens(col(textCol))).as("tok"))
    val labels = model.clsTot.select(col("label"), col("ctot"))
    val scored = toks
      .crossJoin(broadcast(labels))
      .join(broadcast(model.clsTok), Seq("label", "tok"), "left")
      .select(col("id"), col("label"),
        round(log((coalesce(col("ctk"), lit(0L)) + lit(1L)).cast("double") /
            (col("ctot") + lit(model.vSize + 1L)).cast("double")) * 1e6)
          .cast("long").as("lp_micro"))
      .groupBy("id", "label").agg(sum("lp_micro").as("tok_lp"))
      .join(broadcast(model.prior), Seq("label"))
      .select(col("id"), col("label"),
        (col("tok_lp") + col("prior_micro")).as("score_micro"))
    val byDoc = Window.partitionBy("id")
      .orderBy(col("score_micro").desc, col("label"))
    scored.withColumn("rn", row_number().over(byDoc))
      .filter(col("rn") === 1)
      .select(col("id"), col("label").as("pred"), col("score_micro"))
  }

  /** Persist a trained [[NbModel]] as parquet under `dir` (the
    * train-once / serve-everywhere artifact: a later batch job, a
    * streaming query, or another cluster loads it without re-reading
    * the training corpus). Four tiny V×L-bounded tables plus a 1-row
    * meta frame carrying `vSize`; written with overwrite so recomputed
    * models replace cleanly. (Recompute from the CORPUS before
    * re-saving — overwriting a dir with a model LOADED from that same
    * dir is Spark's generic self-overwrite trap.) */
  def saveNbModel(model: NbModel, dir: String): Unit = {
    model.vocab.write.mode("overwrite").parquet(s"$dir/vocab")
    model.clsTok.write.mode("overwrite").parquet(s"$dir/cls_tok")
    model.clsTot.write.mode("overwrite").parquet(s"$dir/cls_tot")
    model.prior.write.mode("overwrite").parquet(s"$dir/prior")
    val spark = model.vocab.sparkSession
    import spark.implicits._
    Seq(model.vSize).toDF("v_size")
      .write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Load a model persisted by [[saveNbModel]]; predictions from the
    * loaded model are bit-equal to the in-memory one (exact integer
    * tables round-trip through parquet unchanged). */
  def loadNbModel(spark: org.apache.spark.sql.SparkSession,
                  dir: String): NbModel =
    NbModel(
      vocab = spark.read.parquet(s"$dir/vocab"),
      clsTok = spark.read.parquet(s"$dir/cls_tok"),
      clsTot = spark.read.parquet(s"$dir/cls_tot"),
      prior = spark.read.parquet(s"$dir/prior"),
      vSize = spark.read.parquet(s"$dir/meta").head.getLong(0))

  /** Collect [[trainBpeMerges]]' (merge_rank, lhs, rhs) frame into the
    * ordered in-memory merge list the apply-side helpers take — the ONE
    * place that knows that frame's column layout, so a schema change
    * cannot silently desync the call sites ([[loadBpeMerges]] is the
    * persistence-format twin). */
  def collectMerges(merges: DataFrame): Seq[(String, String)] =
    merges.orderBy("merge_rank").select("lhs", "rhs")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq

  /** Persist a trained BPE merge list ([[trainBpeMerges]]) as parquet —
    * the tokenizer's train-once / serve-everywhere artifact (the same
    * contract as [[saveNbModel]]): rank-ordered (lhs, rhs) pairs whose
    * ORDER is the greedy-application order, so the rank column is
    * explicit and the loader restores it exactly. Overwrites. */
  def saveBpeMerges(spark: org.apache.spark.sql.SparkSession,
                    merges: Seq[(String, String)], dir: String): Unit = {
    import spark.implicits._
    merges.zipWithIndex.map { case ((l, r), i) => (i, l, r) }
      .toDF("rank", "lhs", "rhs")
      .write.mode("overwrite").parquet(dir)
  }

  /** Load merges persisted by [[saveBpeMerges]]; applying the loaded
    * list ([[bpeTokenCountTrained]], [[graft.streaming.StreamingOps
    * .bpeCountStream]]) is bit-equal to the in-memory one (strings
    * round-trip parquet unchanged, order restored by rank). */
  def loadBpeMerges(spark: org.apache.spark.sql.SparkSession,
                    dir: String): Seq[(String, String)] =
    spark.read.parquet(dir).orderBy("rank")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq

  /** Train-and-self-classify in one plan (the oracle-able composition;
    * serving splits into [[nbTrain]] + [[nbPredict]]). */
  def nbClassify(docs: DataFrame, idCol: String, textCol: String,
                 labelCol: String, vocabSize: Int = 1000): DataFrame =
    nbPredict(nbTrain(docs, idCol, textCol, labelCol, vocabSize),
      docs, idCol, textCol)

  /** The per-row NB score ARRAY (one micro-nat log-posterior per label,
    * labels sorted ascending) over a text Column — the [[labelScoreFold]]
    * over the token array, shared by [[nbPredictFold]] and the streaming
    * curation gate ([[graft.streaming.StreamingOps.curateStream]]).
    * Returns the scores Column and the sorted label list (index i of the
    * array is labels(i)); derive the prediction with
    * [[nbPredFromScores]]. */
  def nbScoreArray(model: NbModel, text: Column): (Column, Seq[String]) =
    labelScoreFold[String](tokens(text), model.clsTok, model.clsTot,
      model.prior, model.vSize)

  /** Spark's `round` routes doubles through Scala BigDecimal (the
    * toString-based constructor) with HALF_UP — replicated exactly, so
    * driver-side log-probs equal the distributed scorers' `round`. */
  private def micro(num: Long, den: Long): Long =
    BigDecimal(Math.log(num.toDouble / den.toDouble) * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).longValue

  /** The per-row label-score fold behind [[nbScoreArray]] and
    * [[hashedLinearScoreArray]]: a count model — per-label key counts
    * `keyCounts` (label, key, count), per-label totals `clsTot` (label,
    * ctot), log-priors `prior` (label, prior_micro) — collapses to
    * LITERALS (key → per-label log-prob array under add-one smoothing
    * over `width` keys, one default array for unseen keys, one prior
    * array) and the score is ONE SQL `aggregate` over the `keys` array
    * summing L-length vectors. Log-probs replicate the join forms'
    * arithmetic exactly (same JVM `Math.log`, same HALF_UP rounding as
    * Spark's `round`). Driver-side materialization is
    * min(width, distinct keys) × L longs. */
  private def labelScoreFold[K: scala.reflect.runtime.universe.TypeTag](
      keys: Column, keyCounts: DataFrame, clsTot: DataFrame,
      prior: DataFrame, width: Long): (Column, Seq[String]) = {
    val priorMicro: Map[String, Long] = prior.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val labels: Seq[String] = priorMicro.keys.toSeq.sorted
    val ctot: Map[String, Long] = clsTot.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val den = labels.map(l => ctot(l) + width + 1L)
    val lutMap: Map[K, Seq[Long]] = keyCounts.collect()
      .map(r => (r.getString(0), r.getAs[K](1), r.getLong(2)))
      .groupBy(_._2)
      .map { case (key, rows) =>
        val byLabel = rows.map(t => t._1 -> t._3).toMap
        key -> labels.indices.map(i =>
          micro(byLabel.getOrElse(labels(i), 0L) + 1L, den(i))).toSeq
      }
    val lut = typedLit(lutMap)
    val dflt = typedLit(den.map(d => micro(1L, d)))
    val scores = aggregate(keys, typedLit(labels.map(priorMicro)),
      (acc, k) => zip_with(acc,
        coalesce(element_at(lut, k), dflt), (a, b) => a + b))
    (scores, labels)
  }

  /** The argmax label off an [[nbScoreArray]] scores Column —
    * score-desc/label-asc tie-break, identical to [[nbPredict]]'s
    * window form (array_position returns the FIRST max, labels sorted
    * ascending). */
  def nbPredFromScores(scores: Column, labels: Seq[String]): Column =
    element_at(typedLit(labels),
      array_position(scores, array_max(scores)).cast("int"))

  /** (id, pred, score_micro) off a per-row score-array fold — the argmax
    * projection shared by [[nbPredictFold]] and
    * [[hashedLinearPredictFold]]. Null-text docs drop, like the join
    * forms' explode. */
  private def argmaxFold(docs: DataFrame, idCol: String, textCol: String,
                         scored: (Column, Seq[String])): DataFrame = {
    val (scores, labels) = scored
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), scores.as("scores"))
      .select(col("id"),
        nbPredFromScores(col("scores"), labels).as("pred"),
        array_max(col("scores")).as("score_micro"))
  }

  /** The broadcast-fold serving form of [[nbPredict]] — the model
    * collapsed to LITERALS (token → per-label log-prob array, one OOV
    * array, one prior array) and the whole classification computed as a
    * PURE PER-ROW PROJECTION: one SQL `aggregate` fold over the token
    * array summing L-length vectors, then an argmax. No join, no
    * aggregation, no window — so the SAME operator runs on an
    * append-mode stream and is bit-equal to the batch argmax
    * (`array_position` of the max returns the FIRST hit, and `labels` is
    * sorted ascending — the same score-desc/label-asc tie-break).
    *
    * Driver-side model materialization is V×L longs (~1000 tokens × a
    * handful of labels = KBs). */
  def nbPredictFold(model: NbModel, docs: DataFrame, idCol: String,
                    textCol: String): DataFrame =
    argmaxFold(docs, idCol, textCol, nbScoreArray(model, col(textCol)))

  // ---- fastText-style hashed n-gram LINEAR classifier -----------------

  /** The deployable artifact of [[hashedLinearTrain]] — the
    * fastText-shaped quality/domain router: linear inference over
    * HASHED unigram + bigram features (the hashing trick bounds the
    * feature space at `buckets` slots regardless of corpus vocabulary,
    * so the model is O(buckets × labels) at ANY corpus scale — no
    * vocabulary selection pass, bigrams included for word order).
    * `bucketTok` (label, slot, ctk) per-class slot counts, `clsTot`
    * (label, ctot) per-class total feature counts, `prior` (label,
    * prior_micro) — all broadcastable. Training is closed-form count
    * aggregation (the NB likelihood over the hashed feature space —
    * exact, distributed, one shuffle, SQL-replayable) rather than
    * fastText's SGD, which no second engine could replay; inference is
    * the same dot-product-plus-bias linear form fastText serves. */
  final case class HashedLinearModel(bucketTok: DataFrame, clsTot: DataFrame,
                                     prior: DataFrame, buckets: Int,
                                     seed: String)

  /** Per-feature hash slot: 52-bit md5 prefix of (seed, feature) mod
    * `buckets` — the [[hashedBigramScore]] idiom, portable to any
    * md5-capable engine (13 hex chars keep every intermediate below
    * 2^53). */
  private def featureSlot(f: Column, buckets: Int, seed: String): Column =
    pmod(conv(substring(md5(concat(lit(seed), lit("_"), f)), 1, 13),
      16, 10).cast("long"), lit(buckets.toLong))

  /** A document's hashed feature-slot array: unigrams plus adjacent
    * bigrams (`w1_w2`), each through [[featureSlot]] — pure per-row
    * array arithmetic (stream-safe). */
  private def featureSlots(text: Column, buckets: Int,
                           seed: String): Column = {
    val w = tokens(text)
    val bigrams = zip_with(slice(w, lit(1), size(w) - 1),
      slice(w, lit(2), size(w) - 1),
      (a, b) => concat(a, lit("_"), b))
    transform(concat(w, bigrams), f => featureSlot(f, buckets, seed))
  }

  /** Train the hashed linear classifier: one feature-grain shuffle to
    * per-(label, slot) counts plus per-label totals and document-count
    * priors. Laplace smoothing over the BUCKET space:
    * `w(slot|l) = ln((ctk+1)/(ctot+buckets+1))` in integer micro-nats;
    * slots never seen under a label fall to the default mass
    * `ln(1/(ctot+buckets+1))`. */
  def hashedLinearTrain(docs: DataFrame, idCol: String, textCol: String,
                        labelCol: String, buckets: Int = 4096,
                        seed: String = "hl"): HashedLinearModel = {
    require(buckets > 0, "buckets must be positive")
    val feats = docs.select(col(labelCol).as("label"),
      explode(featureSlots(col(textCol), buckets, seed)).as("slot"))
    val bucketTok = feats.groupBy("label", "slot")
      .agg(count(lit(1)).as("ctk"))
    val clsTot = feats.groupBy("label").agg(count(lit(1)).as("ctot"))
    val nDocs = docs.agg(count(lit(1)).cast("long").as("n_docs"))
    val prior = docs.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("cdocs"))
      .crossJoin(broadcast(nDocs))
      .select(col("label"),
        round(log(col("cdocs").cast("double") / col("n_docs").cast("double"))
          * 1e6).cast("long").as("prior_micro"))
    HashedLinearModel(bucketTok, clsTot, prior, buckets, seed)
  }

  /** Score documents against every class and keep the argmax — same
    * scale shape as [[nbPredict]]: features × L through broadcast
    * joins, collapsed by a map-side-combined aggregate, per-doc window
    * argmax (score desc, label asc — deterministic cross-engine). */
  def hashedLinearPredict(model: HashedLinearModel, docs: DataFrame,
                          idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("id")
      .orderBy(col("score_micro").desc, col("label"))
    hashedLinearScored(model, docs, idCol, textCol)
      .withColumn("rn", row_number().over(byDoc))
      .filter(col("rn") === 1)
      .select(col("id"), col("label").as("pred"), col("score_micro"))
  }

  /** Per-(doc, label) micro-nat score frame — the join-form inference
    * body shared by [[hashedLinearPredict]] (argmax on top) and
    * [[hashedLinearMargin]] (target-vs-best-other margin on top). */
  private def hashedLinearScored(model: HashedLinearModel, docs: DataFrame,
                                 idCol: String, textCol: String): DataFrame = {
    // collapse to (doc, slot, multiplicity) BEFORE the ×L label fan-out:
    // a slot hit m times contributes m·w(slot,l) — one integer multiply,
    // bit-equal to summing m occurrence rows, and the fan-out volume
    // drops from features×L to distinct-slots×L (bounded by buckets)
    val feats = docs.select(col(idCol).as("id"),
        explode(featureSlots(col(textCol), model.buckets, model.seed))
          .as("slot"))
      .groupBy("id", "slot").agg(count(lit(1)).as("m"))
    val labels = model.clsTot.select(col("label"), col("ctot"))
    feats
      .crossJoin(broadcast(labels))
      .join(broadcast(model.bucketTok), Seq("label", "slot"), "left")
      .select(col("id"), col("label"),
        (col("m") *
          round(log((coalesce(col("ctk"), lit(0L)) + lit(1L)).cast("double") /
              (col("ctot") + lit(model.buckets.toLong + 1L)).cast("double"))
            * 1e6).cast("long")).as("lp_micro"))
      .groupBy("id", "label").agg(sum("lp_micro").as("feat_lp"))
      .join(broadcast(model.prior), Seq("label"))
      .select(col("id"), col("label"),
        (col("feat_lp") + col("prior_micro")).as("score_micro"))
  }

  /** Binary-selection MARGIN of `target` against the best OTHER label,
    * in exact integer micro-nats: `score(target) − max_{l≠target}
    * score(l)` per document — positive means the classifier would pick
    * `target`. This is the quantity a DCLM-style data-selection
    * pipeline thresholds on (argmax alone cannot trade precision
    * against recall). Same scale shape as [[hashedLinearPredict]]:
    * broadcast model joins, one doc-grain aggregate, no new shuffle
    * beyond the scored frame's. A document whose margin cannot be
    * formed (target label or all other labels absent from the model)
    * fails loudly rather than scoring NULL. */
  def hashedLinearMargin(model: HashedLinearModel, docs: DataFrame,
                         idCol: String, textCol: String,
                         target: String): DataFrame =
    hashedLinearScored(model, docs, idCol, textCol)
      .groupBy("id")
      .agg((max(when(col("label") === target, col("score_micro"))) -
        max(when(col("label") =!= target, col("score_micro"))))
        .as("margin"))
      .filter(when(col("margin").isNull,
        raise_error(lit(s"hashedLinearMargin: target '$target' or all " +
          "other labels absent from the model")).cast("boolean"))
        .otherwise(lit(true)))

  /** Classifier calibration: the threshold sweep a selection pipeline
    * runs before choosing its operating point. For each candidate
    * threshold, a row is SELECTED iff `scoreCol >= thr`; the sweep
    * returns exact TP/FP/FN counts against the boolean `positiveCol`
    * plus integer micro-unit precision (`1e6·tp/(tp+fp)`, defined as
    * 1e6 for an empty selection) and recall (`1e6·tp/(tp+fn)`, 1e6
    * when no positives exist). Scale shape: thresholds are a tiny
    * literal list — the explode fans each row into |T| flag tuples
    * that partial aggregation collapses map-side to |T| rows per
    * partition, so the shuffle carries |T|×partitions rows regardless
    * of corpus size. NULL scores/labels fail loudly (a silent drop
    * would skew every count). */
  def calibrationSweep(scored: DataFrame, scoreCol: String,
                       positiveCol: String,
                       thresholds: Seq[Long]): DataFrame = {
    require(thresholds.nonEmpty, "calibrationSweep needs >= 1 threshold")
    require(thresholds == thresholds.distinct.sorted,
      "thresholds must be strictly increasing")
    scored
      .select(col(scoreCol).cast("long").as("__gf_s"),
        col(positiveCol).cast("boolean").as("__gf_p"))
      .filter(when(col("__gf_s").isNull || col("__gf_p").isNull,
        raise_error(lit("calibrationSweep: NULL score or label")))
        .otherwise(lit(true)).cast("boolean"))
      .select(explode(typedLit(thresholds)).as("thr"),
        col("__gf_s"), col("__gf_p"))
      .groupBy("thr")
      .agg(
        sum(when(col("__gf_s") >= col("thr") && col("__gf_p"), 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("__gf_s") >= col("thr") && !col("__gf_p"), 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("__gf_s") < col("thr") && col("__gf_p"), 1L)
          .otherwise(0L)).as("fn"))
      .select(col("thr"), col("tp"), col("fp"), col("fn"),
        when(col("tp") + col("fp") === 0L, lit(1000000L))
          .otherwise(expr("tp * 1000000L div (tp + fp)"))
          .as("precision_micro"),
        when(col("tp") + col("fn") === 0L, lit(1000000L))
          .otherwise(expr("tp * 1000000L div (tp + fn)"))
          .as("recall_micro"))
  }

  /** Train-and-self-classify in one plan (the oracle-able composition;
    * serving splits into [[hashedLinearTrain]] +
    * [[hashedLinearPredict]]). */
  def hashedLinearClassify(docs: DataFrame, idCol: String, textCol: String,
                           labelCol: String, buckets: Int = 4096,
                           seed: String = "hl"): DataFrame =
    hashedLinearPredict(
      hashedLinearTrain(docs, idCol, textCol, labelCol, buckets, seed),
      docs, idCol, textCol)

  /** The broadcast-fold serving form of [[hashedLinearPredict]] — the
    * model collapsed to one slot→weights map literal plus default and
    * prior arrays, the whole classification a PURE PER-ROW PROJECTION
    * (one fold over the feature-slot array, then an argmax) — bit-equal
    * to the join form and streaming-safe, exactly the [[nbPredictFold]]
    * contract. */
  def hashedLinearPredictFold(model: HashedLinearModel, docs: DataFrame,
                              idCol: String, textCol: String): DataFrame =
    argmaxFold(docs, idCol, textCol,
      hashedLinearScoreArray(model, col(textCol)))

  /** The per-row hashed-linear score ARRAY (one micro-nat score per
    * label, labels sorted ascending) over a text Column — the
    * [[labelScoreFold]] over the feature-slot array, smoothed over the
    * `buckets` slot space. Shared by [[hashedLinearPredictFold]],
    * [[hashedLinearMarginFold]] and the streaming curation gate. */
  def hashedLinearScoreArray(model: HashedLinearModel,
                             text: Column): (Column, Seq[String]) =
    labelScoreFold[Long](featureSlots(text, model.buckets, model.seed),
      model.bucketTok, model.clsTot, model.prior, model.buckets.toLong)

  /** Per-row FOLD form of [[hashedLinearMargin]]: `score(target) −
    * max_{l≠target} score(l)` as one Column over the
    * [[hashedLinearScoreArray]] fold — bit-equal to the join form and
    * streaming-safe (pure projection, no shuffle). The score array is
    * BOUND through a transform lambda before being read twice (the
    * round-16 column-tree lesson: a Scala `val c: Column` inlines its
    * whole subtree at every reference, and this one is a fold over all
    * feature slots). */
  def hashedLinearMarginFold(model: HashedLinearModel, text: Column,
                             target: String): Column = {
    val (scores, labels) = hashedLinearScoreArray(model, text)
    val ti = labels.indexOf(target)
    require(ti >= 0,
      s"hashedLinearMarginFold: target '$target' not a model label " +
        s"(${labels.mkString(",")})")
    require(labels.size >= 2,
      "hashedLinearMarginFold needs at least one non-target label")
    element_at(transform(array(scores), s =>
      element_at(s, lit(ti + 1)) -
        array_max(concat(slice(s, 1, ti),
          slice(s, ti + 2, labels.size - ti - 1)))), 1)
  }

  /** Pick the OPERATING threshold from a [[calibrationSweep]] frame:
    * the smallest threshold whose precision reaches
    * `minPrecisionMicro` — smallest because precision climbs and
    * recall falls with the threshold, so the qualifying minimum keeps
    * the most recall at the required precision. The sweep is
    * candidate-threshold-sized (a literal list) — collecting it is
    * O(|T|) at any corpus scale. Fails loudly when no candidate
    * qualifies (silently selecting nothing would look like an empty
    * corpus downstream). */
  def pickThreshold(sweep: DataFrame, minPrecisionMicro: Long): Long = {
    val qual = sweep.filter(col("precision_micro") >= minPrecisionMicro)
      .agg(min(col("thr"))).head()
    require(!qual.isNullAt(0),
      s"pickThreshold: no candidate threshold reaches precision " +
        s"$minPrecisionMicro micro — widen the sweep or lower the target")
    qual.getLong(0)
  }

  /** Column names the rank-eval internals claim — a `byCols` name
    * colliding with one would be silently REPLACED mid-pipeline
    * (withColumn) or duplicated, corrupting the grouping; refused
    * loudly instead (the r5 as-of-join disjoint-names convention). */
  private val EvalInternalNames: Set[String] = Set(
    "part", "p", "g", "cnt", "pcnt", "pc", "pp", "pg", "part_off",
    "neg_lt", "above_all", "above_pos", "better_all", "better_pos",
    "rn_all", "rn_pos", "r", "i", "term_micro", "n_pos", "n_neg", "n",
    "auc_num", "auc_den", "auc_micro", "sum_term_micro", "ap_micro")

  private def requireEvalByCols(byCols: Seq[String], op: String): Unit =
    byCols.foreach(c => require(!c.startsWith("__") &&
        !EvalInternalNames(c),
      s"$op: byCols name '$c' collides with an internal column — " +
        "rename the grouping column"))

  /**
   * EXACT average precision (the PR-curve summary, [[rocAuc]]'s
   * companion): AP = (1/P) · Σ_{i=1..P} i / r_i over the positives,
   * where r_i is the i-th positive's 1-based rank in the TOTAL order
   * (score DESC, id ASC — deterministic under ties, pinned here rather
   * than sklearn's interpolation variants). Each term is quantized
   * exactly — `term_micro = floor(i·10^6 / r_i)` — and the output row
   * carries (n_pos, n, sum_term_micro, ap_micro = floor(Σ/P)): every
   * intermediate is an integer, so the DuckDB replay is bit-exact.
   * One output row per `byCols` group; zero-positive groups surface
   * NULL ap_micro. NULL scores/labels/ids raise.
   *
   * Scale shape: ranks decompose as (rows with a strictly better
   * score) + (row_number within the score group by id) — the first
   * term is a score-grain cumulative sum computed with the SAME
   * two-phase prefix-sum scaffolding as [[rocAuc]] (truncating-div
   * parts are monotone over the signed range), the second a window
   * partitioned by (group, score). No corpus-sized single-partition
   * stage even with all-distinct micro-nat scores.
   */
  def averagePrecision(scored: DataFrame, scoreCol: String,
                       posCol: String, idCol: String,
                       byCols: Seq[String] = Nil,
                       partSpan: Long = 1L << 40): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(partSpan > 0, "partSpan must be > 0")
    requireEvalByCols(byCols, "averagePrecision")
    val keys = byCols.map(col)
    val base = scored.select(keys ++ Seq(
      when(col(scoreCol).isNull,
          raise_error(lit("averagePrecision: NULL score")))
        .otherwise(col(scoreCol)).cast("long").as("__s"),
      when(col(posCol).isNull,
          raise_error(lit("averagePrecision: NULL label")))
        .otherwise(col(posCol)).cast("boolean").as("__pos"),
      when(col(idCol).isNull,
          raise_error(lit("averagePrecision: NULL id")))
        .otherwise(col(idCol)).cast("long").as("__id")): _*)
    // score-grain totals; parts ASCEND with __s but ranks DESCEND, so
    // the "strictly better" cumsum runs over the REVERSED part order
    val per = base.groupBy(keys :+ col("__s"): _*)
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("__pos"), 1L).otherwise(0L)).as("pcnt"))
      .withColumn("part", expr(s"__s div ${partSpan}L"))
    val partTotals = per.groupBy(keys :+ col("part"): _*)
      .agg(sum(col("cnt")).as("pc"), sum(col("pcnt")).as("pp"))
    val desc = Window.partitionBy(keys: _*).orderBy(col("part").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val partOffsets = partTotals
      .withColumn("above_all", coalesce(sum(col("pc")).over(desc), lit(0L)))
      .withColumn("above_pos", coalesce(sum(col("pp")).over(desc), lit(0L)))
    val withinDesc = Window.partitionBy(keys :+ col("part"): _*)
      .orderBy(col("__s").desc).rowsBetween(Window.unboundedPreceding, -1)
    val scoreBetter = per
      .join(broadcast(partOffsets.select(keys :+ col("part") :+
        col("above_all") :+ col("above_pos"): _*)), byCols :+ "part")
      .withColumn("better_all",
        col("above_all") + coalesce(sum(col("cnt")).over(withinDesc), lit(0L)))
      .withColumn("better_pos",
        col("above_pos") + coalesce(sum(col("pcnt")).over(withinDesc), lit(0L)))
      .select(keys ++ Seq(col("__s"), col("better_all"), col("better_pos")): _*)
    // per-row rank (and per-positive index i) = strictly-better counts
    // + the within-score id order; only positives contribute terms
    val byScore = Window.partitionBy(keys :+ col("__s"): _*).orderBy("__id")
    val posRanked = base
      .withColumn("rn_all", row_number().over(byScore).cast("long"))
      .withColumn("rn_pos",
        sum(when(col("__pos"), 1L).otherwise(0L)).over(
          byScore.rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("__pos"))
      .join(scoreBetter, byCols :+ "__s")
      .select(keys ++ Seq(
        (col("better_all") + col("rn_all")).as("r"),
        (col("better_pos") + col("rn_pos")).as("i")): _*)
    val posAgg = posRanked
      .select(keys :+ expr("(i * 1000000L) div r").as("term_micro"): _*)
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n_pos"),
        sum(col("term_micro")).as("sum_term_micro"))
    val totals = base.groupBy(keys: _*).agg(count(lit(1)).as("n"))
    // groups with ZERO positives vanish from posAgg (the positive
    // filter) — keep them from the totals side with NULL ap_micro
    val joined =
      if (byCols.isEmpty) posAgg.crossJoin(totals)
      else totals.join(posAgg, byCols, "left")
    joined.select(keys ++ Seq(
      coalesce(col("n_pos"), lit(0L)).as("n_pos"), col("n"),
      coalesce(col("sum_term_micro"), lit(0L)).as("sum_term_micro"),
      when(coalesce(col("n_pos"), lit(0L)) > 0,
        expr("sum_term_micro div n_pos")).as("ap_micro")): _*)
  }

  /**
   * EXACT ROC AUC by the Mann-Whitney rank-sum identity with
   * average-rank tie handling — the threshold-free completion of the
   * [[calibrationSweep]] evaluation loop: AUC = P(score⁺ > score⁻) +
   * ½·P(score⁺ = score⁻), computed as exact integer pair counts.
   * Per distinct score s with p_s positives and g_s negatives:
   * concordant pairs Σ p_s·negBelow(s) plus tie pairs ½·Σ p_s·g_s, over
   * n_pos·n_neg total — returned as the REDUCED-FREE integer pair
   * (auc_num = 2·Σ p_s·negBelow + Σ p_s·g_s, auc_den = 2·n_pos·n_neg)
   * so the value is exact in any engine, plus the floor-divided
   * `auc_micro`. Doubling clears the half-tie term — this IS the
   * average-rank Mann-Whitney statistic. One output row per `byCols`
   * group (a single global row when empty); `auc_micro`/`auc_den` are
   * NULL/0 when a group lacks both classes. NULL scores or labels
   * raise.
   *
   * Scale shape: one shuffle to score-grain (p_s, g_s) aggregates,
   * then the negBelow prefix sum runs TWO-PHASE exactly like the
   * packing operators' [[graft.operators.Curation.packOffsets]]
   * scaffolding — per-part totals (the only cross-part window runs
   * over one row per `partSpan` score range) and a within-part running
   * sum — so no corpus-sized single-partition window exists even when
   * every document's micro-nat score is distinct. Truncating `div` is
   * monotone non-decreasing over the full signed range, so part is a
   * valid coarse range of the score order for negative scores too.
   * BIGINT envelope: exact while n_pos·n_neg < 2^62 (≈ 2 billion docs
   * per class per group — beyond any real evaluation set; DuckDB
   * raises rather than wraps if ever exceeded).
   */
  def rocAuc(scored: DataFrame, scoreCol: String, posCol: String,
             byCols: Seq[String] = Nil,
             partSpan: Long = 1L << 40): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(partSpan > 0, "partSpan must be > 0")
    requireEvalByCols(byCols, "rocAuc")
    val keys = byCols.map(col)
    val base = scored.select(keys ++ Seq(
      when(col(scoreCol).isNull,
          raise_error(lit("rocAuc: NULL score"))).otherwise(col(scoreCol))
        .cast("long").as("__s"),
      when(col(posCol).isNull,
          raise_error(lit("rocAuc: NULL label"))).otherwise(col(posCol))
        .cast("boolean").as("__pos")): _*)
    val per = base.groupBy(keys :+ col("__s"): _*)
      .agg(sum(when(col("__pos"), 1L).otherwise(0L)).as("p"),
        sum(when(!col("__pos"), 1L).otherwise(0L)).as("g"))
      .withColumn("part", expr(s"__s div ${partSpan}L"))
    val partTotals = per.groupBy(keys :+ col("part"): _*)
      .agg(sum(col("g")).as("pg"))
    val acrossParts = Window.partitionBy(keys: _*).orderBy("part")
      .rowsBetween(Window.unboundedPreceding, -1)
    val partOffsets = partTotals.withColumn("part_off",
      coalesce(sum(col("pg")).over(acrossParts), lit(0L)))
    val withinPart = Window.partitionBy(keys :+ col("part"): _*)
      .orderBy("__s").rowsBetween(Window.unboundedPreceding, -1)
    val cum = per
      .join(broadcast(partOffsets.select(keys :+ col("part") :+
        col("part_off"): _*)), byCols :+ "part")
      .withColumn("neg_lt",
        col("part_off") + coalesce(sum(col("g")).over(withinPart), lit(0L)))
    cum.groupBy(keys: _*)
      .agg(sum(col("p")).as("n_pos"), sum(col("g")).as("n_neg"),
        sum(col("p") * lit(2L) * col("neg_lt") + col("p") * col("g"))
          .as("auc_num"))
      .withColumn("auc_den", col("n_pos") * col("n_neg") * lit(2L))
      .withColumn("auc_micro",
        when(col("auc_den") > 0,
          expr("(auc_num * 1000000L) div auc_den")))
  }

  /** Persist a trained [[HashedLinearModel]] under `dir` (the same
    * train-once / serve-everywhere contract as [[saveNbModel]]):
    * three bounded tables plus a 1-row meta frame (buckets, seed). */
  def saveHashedLinear(model: HashedLinearModel, dir: String): Unit = {
    model.bucketTok.write.mode("overwrite").parquet(s"$dir/bucket_tok")
    model.clsTot.write.mode("overwrite").parquet(s"$dir/cls_tot")
    model.prior.write.mode("overwrite").parquet(s"$dir/prior")
    val spark = model.bucketTok.sparkSession
    import spark.implicits._
    Seq((model.buckets, model.seed)).toDF("buckets", "seed")
      .write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Load a model persisted by [[saveHashedLinear]]; predictions are
    * bit-equal to the in-memory one. */
  def loadHashedLinear(spark: org.apache.spark.sql.SparkSession,
                       dir: String): HashedLinearModel = {
    val meta = spark.read.parquet(s"$dir/meta").head
    HashedLinearModel(
      bucketTok = spark.read.parquet(s"$dir/bucket_tok"),
      clsTot = spark.read.parquet(s"$dir/cls_tot"),
      prior = spark.read.parquet(s"$dir/prior"),
      buckets = meta.getInt(0), seed = meta.getString(1))
  }
}
