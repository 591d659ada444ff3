package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Structured Streaming layer — a strict SUPERSET of the reference, which
 * is batch-only (SURVEY §2D: every reference operator is
 * `ExecutionMode::Bounded`; no watermarks or windows-over-time exist
 * there). These give the engine the streaming shapes a training-data
 * pipeline needs: watermarked tumbling-window aggregation, streaming
 * dedup, and custom keyed state via `mapGroupsWithState`.
 *
 * All transforms take/return streaming DataFrames from the public
 * `readStream`/`writeStream` API, so the same code runs on any source
 * (file, Kafka, rate) and sink.
 */
object StreamingOps {

  /** Watermarked tumbling-window count+sum per key — the canonical
    * streaming windowed aggregation. Late rows beyond `watermarkDelay`
    * are dropped and window state is evicted, so state is bounded at any
    * scale. */
  def tumblingAgg(events: DataFrame, tsCol: String, keyCol: String,
                  valueCol: String, windowDur: String,
                  watermarkDelay: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDur), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("sum_v"))
      .select(col("window.start").as("win_start"), col(keyCol),
        col("n"), col("sum_v"))

  /** Streaming exact dedup on a set of key columns: first arrival wins,
    * duplicate state is dropped once the watermark passes. The streaming
    * form of [[graft.operators.Dedup.exactKeepFirst]]. */
  def streamingDedup(events: DataFrame, tsCol: String,
                     keyCols: Seq[String], watermarkDelay: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** LINE-grain streaming dedup — the streaming form of
    * [[graft.operators.Curation.lineDedup]]: arriving documents split
    * into consecutive `lineTokens`-token lines (the same projection the
    * batch operator uses — pure codegen'd expressions, so it lifts to a
    * stream unchanged), each distinct line kept only at its FIRST
    * ARRIVAL (keyed watermark dedup state on the line value — evicted
    * once the watermark passes, so state stays bounded by the window's
    * distinct lines). Emits the surviving (id, ts, line_idx, line) rows
    * in append mode; per-doc reassembly is the sink's per-batch
    * group-by (a second stateful stage would pin the whole doc in state
    * for no gain — lines of one doc arrive in one row anyway).
    * Semantics note vs batch: batch keep-first orders by (id,
    * line_idx); the stream keeps the first ARRIVAL, which equals the
    * batch choice whenever ingestion follows id order. */
  def lineDedupStream(docs: DataFrame, idCol: String, tsCol: String,
                      textCol: String, lineTokens: Int,
                      watermarkDelay: String): DataFrame = {
    require(lineTokens > 0, "lineTokens must be > 0")
    docs
      .select(col(idCol).as("id"), col(tsCol).as("ts"),
        split(col(textCol), " ").as("w"))
      .filter(size(col("w")) > 0)
      .select(col("id"), col("ts"),
        posexplode(expr(
          s"transform(sequence(0, CAST((size(w) + $lineTokens - 1) " +
            s"div $lineTokens AS INT) - 1), " +
            s"i -> array_join(slice(w, i * $lineTokens + 1, $lineTokens), ' '))"))
          .as(Seq("line_idx", "line")))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(Seq("line"))
  }

  /** Watermarked session-window aggregation (gap-based session close) —
    * the streaming form of the batch `ev_sessionize` query: a session
    * extends while events keep arriving within `gap` of each other, and
    * is emitted (and its state evicted) once the watermark passes its
    * close. State stays bounded by open sessions only. */
  def sessionAgg(events: DataFrame, tsCol: String, keyCol: String,
                 gap: String, watermarkDelay: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"), col(keyCol),
        col("n_events"))

  /** Score a STREAM of documents against a STATIC unigram model trained
    * batch-side ([[graft.operators.TextAnalysis.unigramLogProb]]'s model
    * shape: a (tok, cnt) vocab plus corpus totals) — the deploy-time
    * form of quality filtering: train once on the existing corpus, score
    * every incoming document with a stream-static broadcast join. Emits
    * (id, n_toks, lp_sum_micro, avg_logprob) per arriving doc; the
    * micro-nat integer arithmetic matches the batch scorer exactly, so
    * streaming and batch scores for the same doc are identical. */
  def scoreStreamUnigram(docs: DataFrame, idCol: String, textCol: String,
                         vocab: DataFrame, nTotal: Long, vSize: Long): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      explode(split(lower(col(textCol)), " ")).as("tok"))
    toks
      .join(broadcast(vocab.select(col("tok"), col("cnt"))), Seq("tok"), "left")
      .select(col("id"),
        round(log((coalesce(col("cnt"), lit(0L)) + lit(1L)).cast("double") /
            lit(nTotal + vSize + 1L).cast("double")) * 1e6)
          .cast("long").as("lp_micro"))
      .groupBy("id")
      .agg(count(lit(1)).cast("long").as("n_toks"),
        sum("lp_micro").as("lp_sum_micro"))
      .select(col("id"), col("n_toks"), col("lp_sum_micro"),
        (col("lp_sum_micro").cast("double") / col("n_toks") / lit(1e6))
          .as("avg_logprob"))
  }

  /** Score a STREAM of documents under a batch-trained bigram model
    * ([[graft.operators.TextAnalysis.bigramModel]]) — the
    * conditional-probability upgrade of [[scoreStreamUnigram]], via the
    * per-row fold ([[graft.operators.TextAnalysis.bigramScoreColumns]] —
    * map-literal tables, one pure projection, no window/join/state, the
    * SAME scorer as [[curateStream]]'s `lmGate`). Bit-equal to the batch
    * [[graft.operators.TextAnalysis.bigramLogProb]] on every doc both
    * emit; a bigram unseen in training scores with c12 = 0 under the
    * same add-one smoothing. Emits (id, n_bigrams, lp_sum_micro) per
    * arriving doc; docs with fewer than two tokens produce no output row
    * (no bigrams — batch parity). */
  def scoreStreamBigram(docs: DataFrame, idCol: String, textCol: String,
                        model: graft.operators.TextAnalysis.BigramModel): DataFrame = {
    val (n, s) = graft.operators.TextAnalysis
      .bigramScoreColumns(model, col(textCol))
    docs.select(col(idCol).as("id"), n.as("n_bigrams"),
        s.as("lp_sum_micro"))
      .filter(col("n_bigrams") > 0)
  }

  /** Score a STREAM of documents under a batch-trained stupid-backoff
    * trigram model ([[graft.operators.TextAnalysis.trigramModel]]) via
    * the per-row fold ([[graft.operators.TextAnalysis
    * .trigramScoreColumns]] — map-literal tables, one pure projection,
    * no window/join/state, append-mode safe). Bit-equal to the batch
    * [[graft.operators.TextAnalysis.trigramStupidBackoff]] on every doc
    * both emit. Emits (id, n_trigrams, lp_sum_micro) per arriving doc
    * (trigram-less docs fold to (0, 0)). */
  def scoreStreamTrigram(docs: DataFrame, idCol: String, textCol: String,
                         model: graft.operators.TextAnalysis.TrigramModel)
      : DataFrame = {
    val (n, s) = graft.operators.TextAnalysis
      .trigramScoreColumns(model, col(textCol))
    docs.select(col(idCol).as("id"), n.as("n_trigrams"),
      s.as("lp_sum_micro"))
  }

  /** Count BPE tokens of ARRIVING documents under merges trained
    * batch-side ([[graft.operators.TextAnalysis.trainBpeMerges]]) — the
    * deploy-time token-budget meter: train the tokenizer once on the
    * existing corpus, bill every incoming document as it lands. The
    * per-row fold ([[graft.operators.TextAnalysis.bpeTokenCountTrained]])
    * is a pure projection — no explode, no join, no state — so the
    * stream stays append-mode-safe and counts are bit-equal to the
    * batch [[graft.operators.TextAnalysis.bpeSegmentCount]] (identical
    * greedy fold per word). Emits (id, n_bpe) per arriving doc. */
  def bpeCountStream(docs: DataFrame, idCol: String, textCol: String,
                     merges: Seq[(String, String)]): DataFrame =
    docs.select(col(idCol).as("id"),
      graft.operators.TextAnalysis.bpeTokenCountTrained(textCol, merges)
        .as("n_bpe"))

  /** Streaming ingest curation — the deploy-time filter chain a
    * training-data pipeline runs on ARRIVING documents, composed from
    * the batch [[graft.operators.Curation]]/[[graft.operators.TextAnalysis]]
    * per-row ops (all codegen'd projections, so they lift to a stream
    * unchanged) plus watermarked exact dedup:
    *
    *  1. exact dedup on the whitespace-normalized content fingerprint —
    *     first arrival wins, dup state evicted past the watermark
    *     (bounded state: the streaming form of `dedup_exact_keep`);
    *  2. language gate (langIdHeuristic == 'en') and quality gate
    *     (qualityScore >= minQuality) — Gopher-style cheap filters;
    *  3. OPTIONAL full Gopher rule bundle (`gopher` — the composite
    *     [[graft.operators.TextAnalysis.gopherKeep]] decision, exact
    *     same cross-multiplied integer rules as the batch
    *     `gopherQualityFlags`);
    *  4. OPTIONAL Naive-Bayes class gate (`nbGate` — a batch-trained
    *     [[graft.operators.TextAnalysis.NbModel]] plus the label set to
    *     keep; the prediction is the same per-row fold + argmax as
    *     [[graft.operators.TextAnalysis.nbPredictFold]], bit-equal to
    *     the batch `nbPredict`) — or
    *     the hashed-linear twin (`hlGate`, a
    *     [[graft.operators.TextAnalysis.HashedLinearModel]]) — or the
    *     CALIBRATED margin gate (`hlMargin` = (model, target,
    *     minMarginMicro): keep docs whose
    *     [[graft.operators.TextAnalysis.hashedLinearMarginFold]] for
    *     `target` reaches the operating threshold a
    *     [[graft.operators.TextAnalysis.calibrationSweep]] +
    *     `pickThreshold` chose batch-side — the DCLM selection shape;
    *     emits `margin_micro`); at most ONE classifier gate
    *     (`nbGate`/`hlGate` emit `pred`, `hlMargin` emits
    *     `margin_micro`);
    *  5. PII redaction (email/IP/phone → placeholder tokens) on the
    *     text that survives.
    *
    * Three more OPTIONAL stages complete the one-call streaming tail
    * (each a pure per-row projection, bit-equal to its batch twin):
    *
    *  0. `html` — the document arrives as RAW HTML: `textCol` is first
    *     replaced by [[graft.operators.HtmlExtract.extractedHtmlText]]
    *     (boilerplate-stripped prose), so dedup fingerprints and every
    *     gate see extracted text, exactly like the batch pipeline head
    *     (`pipe_html_gopher`);
    *  6. `decontam` = (evalFingerprints, k, maxContamWindows) — the
    *     benchmark-decontamination gate ([[decontaminateStream]]'s
    *     per-row window-fingerprint intersect against the broadcast
    *     eval set): docs sharing more than `maxContamWindows` k-token
    *     windows with an eval item drop;
    *  5b. `c4` = C4 line-grain cleaning rules
    *     ([[graft.operators.TextAnalysis.c4Columns]], Raffel et al.
    *     2020) applied to the (extracted) page BEFORE dedup and every
    *     gate: rule-dropped docs vanish, survivors carry the CLEANED
    *     text through the rest of the tail;
    *  6b. `bloomDecontam` = (bloomFilter, k, maxFlaggedWindows) — the
    *     SCALED form of the same gate for blocklists too large to ship
    *     as an exact literal set: k-token window fingerprints probe a
    *     broadcast-literal [[graft.operators.Curation.BloomFilter]]
    *     ([[graft.operators.Curation.bloomMaybeContains]], a pure
    *     per-row fold); docs with more than `maxFlaggedWindows`
    *     maybe-member windows drop. False positives only over-drop —
    *     never leak — the correct one-sidedness for decontamination;
    *  7. `resample` = (weightMicroCol, salt) — deterministic importance
    *     sampling on the surviving docs
    *     ([[graft.operators.Curation.resampleKeep]]), applied AFTER all
    *     gates like the batch `pipe_gate_resample_split`;
    *  8. `split` — a train/val/test `split` column
    *     ([[graft.operators.Curation.splitLabel]]) on what remains;
    *  7b. `lmGate` = (bigramModel, perLangCutoffMicro) — the
    *     CCNet-style perplexity quality gate: each doc's exact
    *     floor-mean micro-nat bigram score
    *     ([[graft.operators.TextAnalysis.bigramScoreColumns]] +
    *     [[graft.operators.TextAnalysis.avgLpMicro]]) must clear its
    *     language's frozen cutoff (typically
    *     [[graft.operators.TextAnalysis.pplThresholds]]' tercile
    *     boundary from a calibration run); langs without a cutoff and
    *     bigram-less docs drop;
    *  9. `upsample` = (weightMicroCol, salt) — deterministic EPOCHING
    *     ([[graft.operators.Curation.upsampleByWeight]]): each
    *     surviving doc emits its whole copies plus the hash-drawn
    *     fractional copy, a pure per-row filter + bounded explode; all
    *     of a doc's copies land in one micro-batch and share its
    *     id-keyed `split` label.
    *
    * Emits (id, ts, lang, quality, text) per kept doc — plus `pred`
    * (the classifier label) when `nbGate`/`hlGate` is set, so a
    * downstream batch mixer
    * ([[graft.operators.Curation.mixDomains]]) can weight on it, plus
    * `margin_micro` when `hlMargin` is set, plus `avg_lp_micro` when
    * `lmGate` is set, plus `split` when `split` is set, plus the
    * 0-based `copy` index when `upsample` is set (one output row per
    * emitted copy).
    * Append-mode-safe (no aggregation — projections, filters, and keyed
    * dedup state; every optional stage is a pure per-row fold). */
  def curateStream(docs: DataFrame, idCol: String, tsCol: String,
                   textCol: String, minQuality: Double,
                   watermarkDelay: String,
                   gopher: Option[graft.operators.TextAnalysis.GopherRules] = None,
                   nbGate: Option[(graft.operators.TextAnalysis.NbModel,
                     Set[String])] = None,
                   html: Option[graft.operators.HtmlExtract.HtmlRules] = None,
                   c4: Option[graft.operators.TextAnalysis.C4Rules] = None,
                   hlGate: Option[(graft.operators.TextAnalysis.HashedLinearModel,
                     Set[String])] = None,
                   decontam: Option[(Seq[String], Int, Int)] = None,
                   bloomDecontam: Option[(graft.operators.Curation.BloomFilter,
                     Int, Int)] = None,
                   resample: Option[(String, String)] = None,
                   split: Option[Seq[(String, Long)]] = None,
                   hlMargin: Option[(graft.operators.TextAnalysis.HashedLinearModel,
                     String, Long)] = None,
                   upsample: Option[(String, String)] = None,
                   lmGate: Option[(graft.operators.TextAnalysis.BigramModel,
                     Map[String, Long])] = None): DataFrame = {
    import graft.operators.{Curation, HtmlExtract, TextAnalysis}
    val source = html.fold(docs)(rules => docs.withColumn(textCol,
      HtmlExtract.extractedHtmlText(col(textCol), rules)))
    // C4 line-grain cleaning runs FIRST on the (extracted) page — docs
    // the rules drop never reach dedup/gates, survivors carry the
    // CLEANED text forward (so fingerprints and every later gate see
    // what training would see). Pure per-row (TextAnalysis.c4Columns,
    // shared with the batch operator) — append-mode safe.
    val c4ed = c4.fold(source) { rules =>
      source
        .withColumn("__c4", TextAnalysis.c4Columns(col(textCol), rules))
        .filter(!col("__c4.dropped"))
        .withColumn(textCol, col("__c4.text_clean"))
        .drop("__c4")
    }
    val gated0 = c4ed
      .withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("__fp")
      .withColumn("lang", TextAnalysis.langIdHeuristic(col(textCol)))
      .withColumn("quality", TextAnalysis.qualityScore(col(textCol)))
      .filter(col("lang") === "en" && col("quality") >= minQuality)
      .transform(d => gopher.fold(d)(rules =>
        d.filter(TextAnalysis.gopherKeep(col(textCol), rules))))
    // CCNet-style LM-perplexity gate: a batch-trained bigram model
    // scores each arriving doc via the PER-ROW fold
    // (TextAnalysis.bigramScoreColumns — no join/agg/window, so append
    // mode survives) and the doc passes iff its language has a frozen
    // cutoff (pplThresholds on a calibration run) and its exact
    // floor-mean micro-nat score clears it. Bigram-less docs (a single
    // token) have no score and drop — same absence rule as the batch
    // scorer's output.
    val gated = lmGate.fold(gated0) { case (m, cutoffs) =>
      require(cutoffs.nonEmpty, "lmGate needs at least one language cutoff")
      val (nBg, lpSum) = TextAnalysis.bigramScoreColumns(m, col(textCol))
      gated0
        // bind BOTH fold outputs once: avgLpMicro references its sum
        // argument twice and its count three times, and an inlined
        // Column tree would re-run the whole tree per reference (the
        // r16 duplication trap) — the intermediate projection makes
        // every later reference a cheap attribute
        .withColumn("__bg_s", lpSum)
        .withColumn("__bg_n", nBg)
        .withColumn("avg_lp_micro",
          TextAnalysis.avgLpMicro(col("__bg_s"), col("__bg_n")))
        .drop("__bg_s", "__bg_n")
        .filter(col("avg_lp_micro").isNotNull &&
          col("avg_lp_micro") >=
            coalesce(element_at(typedLit(cutoffs), col("lang")),
              // languages without a cutoff never pass (explicit
              // allowlist, the keep-label-set convention)
              lit(Long.MaxValue)))
    }
    require(Seq(nbGate, hlGate, hlMargin).count(_.isDefined) <= 1,
      "at most one classifier gate (nbGate / hlGate / hlMargin)")
    val scoreGate: Option[(org.apache.spark.sql.Column, Seq[String], Set[String])] =
      nbGate.map { case (m, keep) =>
        val (sc, ls) = TextAnalysis.nbScoreArray(m, col(textCol))
        (sc, ls, keep)
      }.orElse(hlGate.map { case (m, keep) =>
        val (sc, ls) = TextAnalysis.hashedLinearScoreArray(m, col(textCol))
        (sc, ls, keep)
      })
    val withPred = scoreGate match {
      case None => hlMargin.fold(gated) { case (m, target, minMargin) =>
        gated
          .withColumn("margin_micro",
            TextAnalysis.hashedLinearMarginFold(m, col(textCol), target))
          .filter(col("margin_micro") >= minMargin)
      }
      case Some((scores, labels, keepLabels)) =>
        require(keepLabels.nonEmpty,
          "a classifier gate needs at least one keep label")
        gated
          .withColumn("__nb_scores", scores)
          .withColumn("pred",
            TextAnalysis.nbPredFromScores(col("__nb_scores"), labels))
          .filter(col("pred").isin(keepLabels.toSeq.sorted: _*))
    }
    val decontamed = decontam.fold(withPred) { case (fps, k, maxW) =>
      withPred.filter(size(array_intersect(
        Curation.windowFingerprintArray(col(textCol), k),
        typedLit(fps))) <= maxW)
    }
    val bloomed = bloomDecontam.fold(decontamed) { case (bf, k, maxW) =>
      decontamed.filter(size(org.apache.spark.sql.functions.filter(
        Curation.windowFingerprintArray(col(textCol), k),
        h => Curation.bloomMaybeContains(h, bf))) <= maxW)
    }
    val sampled = resample.fold(bloomed) { case (wCol, salt) =>
      bloomed.filter(Curation.resampleKeep(col(idCol), col(wCol), salt))
    }
    // EPOCHING on a stream: upsampleByWeight is a pure per-row filter +
    // bounded sequence explode (no state, no shuffle), so "2.5 epochs of
    // this source" lifts onto append mode unchanged; all of a doc's
    // copies land in one micro-batch and share its split label (the
    // label hashes the id alone)
    val epoched = upsample.fold(sampled) { case (wCol, salt) =>
      Curation.upsampleByWeight(sampled, idCol, wCol, salt)
    }
    val cols =
      Seq(col(idCol).as("id"), col(tsCol).as("ts"), col("lang"),
        col("quality")) ++
        (if (scoreGate.isDefined) Seq(col("pred")) else Nil) ++
        (if (hlMargin.isDefined) Seq(col("margin_micro")) else Nil) ++
        (if (lmGate.isDefined) Seq(col("avg_lp_micro")) else Nil) ++
        Seq(Curation.piiRedact(col(textCol)).as("text")) ++
        split.toSeq.map(fr => Curation.splitLabel(col(idCol), fr).as("split")) ++
        (if (upsample.isDefined) Seq(col("copy")) else Nil)
    epoched.select(cols: _*)
  }

  /** Streaming benchmark-decontamination gate: drop (or count) arriving
    * training documents that share k-token window fingerprints with a
    * benchmark/eval set — the deploy-time twin of
    * [[graft.operators.Curation.decontaminateSpans]]'s detection stage.
    * The eval fingerprint set rides as a LITERAL array (benchmarks are
    * small by definition — collect
    * [[graft.operators.Curation.evalFingerprints]] once batch-side) and
    * each arriving doc computes its own fingerprint array per row
    * ([[graft.operators.Curation.windowFingerprintArray]] — no explode,
    * no shuffle, no state), so the gate is append-mode-safe. Emits
    * (id, n_contam_windows, text) for surviving docs, where
    * `n_contam_windows` counts DISTINCT contaminated window fingerprints
    * (array_intersect semantics — a repeated window counts once); docs
    * above `maxContamWindows` drop (default 0 = any overlap drops). */
  def decontaminateStream(docs: DataFrame, idCol: String, textCol: String,
                          evalFingerprints: Seq[String], k: Int = 8,
                          maxContamWindows: Int = 0): DataFrame = {
    val contam = size(array_intersect(
      graft.operators.Curation.windowFingerprintArray(col(textCol), k),
      typedLit(evalFingerprints)))
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), contam.as("n_contam_windows"),
        col(textCol).as("text"))
      .filter(col("n_contam_windows") <= maxContamWindows)
  }

  case class KeyCount(key: String, n: Long)

  /** Tagged union row for [[asofEnrich]]: reference rows (`isRef=true`)
    * update per-key state, event rows read it. */
  case class EnrichInput(key: String, ts: Long, isRef: Boolean, value: Double)
  case class Enriched(key: String, ts: Long, value: Double,
                      refValue: Option[Double])

  /**
   * Streaming as-of enrich — the streaming counterpart of
   * [[graft.operators.TemporalJoin.asofJoin]] in the feature-store sense:
   * a reference stream continuously updates per-key state, and each event
   * is emitted with the latest reference value for its key.
   *
   * Within a micro-batch, rows are applied in event-time order with
   * references-before-events at equal timestamps (the backward-inclusive
   * as-of tie rule); across batches the order is processing order, the
   * standard contract for streaming enrichment (an event can only see
   * reference data that has actually arrived). State is one (ts, value)
   * pair per key — bounded by key cardinality.
   *
   * @param tolerance optional max |event.ts - ref.ts| (same contract as
   *   the batch [[graft.operators.TemporalJoin.asofJoin]] toleranceUs):
   *   a reference farther away in event time is nulled out, keeping the
   *   event row.
   */
  def asofEnrich(input: Dataset[EnrichInput],
                 tolerance: Option[Long] = None): Dataset[Enriched] = {
    val spark = input.sparkSession
    import spark.implicits._
    input.groupByKey(_.key)
      .flatMapGroupsWithState[(Long, Double), Enriched](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[EnrichInput], state: GroupState[(Long, Double)]) =>
          val ordered = rows.toSeq.sortBy(r => (r.ts, !r.isRef))
          val out = Seq.newBuilder[Enriched]
          for (r <- ordered) {
            if (r.isRef) state.update((r.ts, r.value))
            else {
              val ref = state.getOption.filter { case (refTs, _) =>
                tolerance.forall(tol => math.abs(r.ts - refTs) <= tol)
              }
              out += Enriched(key, r.ts, r.value, ref.map(_._2))
            }
          }
          out.result().iterator
      }
  }

  /**
   * Watermarked stream-stream interval join: each left event matches
   * right events with the same key whose event time falls in
   * `[left.ts, left.ts + maxDelay]` — the impressions↔clicks attribution
   * shape. Both sides carry watermarks and the join condition bounds the
   * time range, so Spark can size and EVICT the join state on both sides
   * (unbounded state is the stream-stream join scale-killer; the range +
   * watermark make it O(events within the delay window) per key).
   *
   * Inputs must have disjoint column names apart from `keyCol`; the
   * right time column must be named differently from the left one.
   */
  def intervalJoin(left: DataFrame, leftTs: String,
                   right: DataFrame, rightTs: String,
                   keyCol: String, maxDelay: String,
                   watermarkDelay: String): DataFrame = {
    val shared = left.columns.toSet.intersect(right.columns.toSet) - keyCol
    require(shared.isEmpty,
      s"intervalJoin inputs must only share '$keyCol', also shared: ${shared.mkString(", ")}")
    val l = left.withWatermark(leftTs, watermarkDelay).alias("l")
    val r = right.withWatermark(rightTs, watermarkDelay).alias("r")
    l.join(r, expr(
      s"l.$keyCol = r.$keyCol AND " +
        s"r.$rightTs >= l.$leftTs AND r.$rightTs <= l.$leftTs + INTERVAL $maxDelay"))
      .drop(col(s"r.$keyCol"))
  }

  case class TopKSnapshot(key: String, items: Seq[(String, Long)])

  /**
   * Streaming heavy-hitters: a continuously-updated SpaceSaving top-k
   * per group (e.g. top tokens per language over an unbounded corpus
   * stream) — the streaming form of the batch `agg_topk_sketch` entry.
   * State per group is the sketch's hard `capacity` bound, never the
   * vocabulary, so state size is O(groups × capacity) at any stream
   * length. Emits the current top-k snapshot for each group touched in
   * a micro-batch (Update mode).
   */
  def streamingTopK(items: Dataset[(String, String)], k: Int, capacity: Int)
      : Dataset[TopKSnapshot] = {
    val spark = items.sparkSession
    import spark.implicits._
    implicit val bufEnc: org.apache.spark.sql.Encoder[graft.functions.SpaceSavingBuffer] =
      org.apache.spark.sql.Encoders.kryo[graft.functions.SpaceSavingBuffer]
    items.groupByKey(_._1)
      .mapGroupsWithState[graft.functions.SpaceSavingBuffer, TopKSnapshot](
        GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, String)],
         state: GroupState[graft.functions.SpaceSavingBuffer]) =>
          val sketch = state.getOption.getOrElse(new graft.functions.SpaceSavingBuffer)
          rows.foreach { case (_, item) =>
            if (item != null) sketch.add(item, 1L, capacity)
          }
          state.update(sketch)
          TopKSnapshot(key, sketch.topK(k))
      }
  }

  /** Running per-key event count via explicit keyed state
    * (`mapGroupsWithState`) — the custom-state primitive the reference
    * has no analog for. */
  def runningCounts(events: Dataset[(String, Long)]): Dataset[KeyCount] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_._1)
      .mapGroupsWithState[Long, KeyCount](GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Long)], state: GroupState[Long]) =>
          val prev = state.getOption.getOrElse(0L)
          val next = prev + rows.size
          state.update(next)
          KeyCount(key, next)
      }
  }

  /** Drive a streaming DataFrame from files into an in-memory table and
    * block until all available input is processed (test/demo harness). */
  def runToMemory(stream: DataFrame, queryName: String,
                  outputMode: OutputMode = OutputMode.Update()): Unit = {
    val q = stream.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(outputMode)
      .start()
    try q.processAllAvailable()
    finally q.stop()
  }

  /** Highest stream batch id already committed to the table (recorded in
    * each sink snapshot's summary) — the sink's replay cursor. */
  def lastStreamBatchId(tablePath: String): Option[Long] =
    graft.sources.IcebergIO.loadMetadata(tablePath).snapshots
      .flatMap(_.summary.get(StreamBatchKey))
      .map(_.toLong).maxOption

  private[graft] val StreamBatchKey = "graft-stream-batch-id"

  /** Idempotent per-batch commit for the Iceberg sink: append `batch`
    * stamped with `batchId` UNLESS a snapshot already carries an equal
    * or higher id — a foreachBatch replay after a failure between the
    * table commit and the checkpoint advance re-offers the same batch,
    * and committing it twice would duplicate rows. Returns true when the
    * batch was committed, false when it was recognized as a replay. */
  def commitStreamBatch(batch: DataFrame, tablePath: String,
                        batchId: Long): Boolean = {
    val replay = lastStreamBatchId(tablePath).exists(_ >= batchId)
    if (!replay)
      graft.sources.IcebergWrite.append(batch, tablePath,
        summaryExtra = Map(StreamBatchKey -> batchId.toString)): Unit
    !replay
  }

  /** [[commitStreamBatch]]'s UPSERT twin: merge `batch` by `keyCols`
    * ([[graft.sources.IcebergWrite.upsert]] — one atomic snapshot)
    * unless the batch id was already absorbed. Duplicate keys WITHIN a
    * batch are rejected loudly — both rows would land and the sink's
    * by-key promise would silently break; dedupe upstream
    * (`dropDuplicates`/aggregation) to pick a winner first. */
  def commitStreamBatchUpsert(batch: DataFrame, tablePath: String,
                              keyCols: Seq[String], batchId: Long,
                              preserveLineage: Boolean = false): Boolean = {
    val replay = lastStreamBatchId(tablePath).exists(_ >= batchId)
    if (!replay) {
      val n = batch.count()
      val k = batch.select(keyCols.map(col): _*).distinct().count()
      require(n == k,
        s"batch $batchId carries duplicate keys (${n - k} extra rows on " +
          s"${keyCols.mkString(",")}) — dedupe upstream before the upsert sink")
      graft.sources.IcebergWrite.upsert(batch, tablePath, keyCols,
        summaryExtra = Map(StreamBatchKey -> batchId.toString),
        preserveLineage = preserveLineage): Unit
    }
    !replay
  }

  /** [[commitStreamBatch]]'s CDC-APPLY twin: apply a micro-batch of
    * changelog rows (the [[icebergChangelogStream]] schema) to a keyed
    * REPLICA table. The batch may span several source commits, so the
    * NET effect per key is applied: the highest-ordinal change wins
    * (insert beats delete at one ordinal — that pair is an update).
    * Net deletes become one equality-delete commit, net inserts one
    * upsert commit; each is an idempotent net-state application, so a
    * replay after a crash BETWEEN the two commits converges (the batch
    * id stamps only the LAST commit — an earlier stamp would mark a
    * half-applied batch as done). Single-writer per replica, like every
    * foreachBatch sink here. */
  def commitStreamBatchCdc(batch: DataFrame, tablePath: String,
                           keyCols: Seq[String], batchId: Long): Boolean = {
    val replay = lastStreamBatchId(tablePath).exists(_ >= batchId)
    if (!replay && !batch.isEmpty) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keyCols.map(col): _*)
        .orderBy(col("_change_ordinal").desc,
          col("_change_type").desc) // 'insert' sorts after 'delete'
      val net = batch
        .withColumn("__gf_rn", org.apache.spark.sql.functions.row_number().over(w))
        .filter(col("__gf_rn") === 1).drop("__gf_rn")
        .persist()
      try {
        val deletes = net.filter(col("_change_type") === "delete")
          .select(keyCols.map(col): _*)
        val upserts = net.filter(col("_change_type") === "insert")
          .drop("_change_type", "_change_ordinal", "_commit_snapshot_id")
        val haveUpserts = !upserts.isEmpty
        if (!deletes.isEmpty)
          graft.sources.IcebergWrite.deleteEquality(deletes, tablePath,
            summaryExtra = if (haveUpserts) Map.empty
              else Map(StreamBatchKey -> batchId.toString)): Unit
        if (haveUpserts)
          graft.sources.IcebergWrite.upsert(upserts, tablePath, keyCols,
            summaryExtra = Map(StreamBatchKey -> batchId.toString)): Unit
      } finally { net.unpersist(): Unit }
    }
    !replay
  }

  /** Streaming REPLICATION: maintain `replicaPath` as a keyed copy of a
    * source table by applying its changelog stream
    * ([[icebergChangelogStream]] → [[commitStreamBatchCdc]] per batch).
    * After each processed batch the replica's live rows equal the
    * source's as of the last streamed commit — updates move, deletes
    * disappear, maintenance commits pass through silently. */
  def icebergCdcApplySink(changes: DataFrame, replicaPath: String,
                          keyCols: Seq[String], checkpointLocation: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // fail at wiring time, not first batch: the sink never creates
    graft.sources.IcebergIO.loadMetadata(replicaPath): Unit
    changes.writeStream
      .option("checkpointLocation", checkpointLocation)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        commitStreamBatchCdc(batch.toDF(), replicaPath, keyCols, batchId): Unit
      }
      .start()
  }

  /** EXACTLY-ONCE streaming UPSERT sink: each micro-batch MERGES into
    * the table by `keyCols` — late re-deliveries of a key overwrite the
    * previous row instead of duplicating it, which composes streaming
    * ingestion with keyed deduplication in one operator. Same replay
    * protection as [[icebergAppendSink]] (batch ids in the snapshot
    * summary); each batch's keys must be unique after upstream dedupe
    * ([[commitStreamBatchUpsert]] enforces this loudly).
    *
    * `preserveLineage` (format v3 tables): each batch routes through the
    * identity-preserving MERGE path — a key updated across many batches
    * keeps ONE `_row_id` for its whole streamed life, so downstream
    * identity-grain CDC consumers of THIS table see updates as updates,
    * never as delete+insert churn. */
  def icebergUpsertSink(stream: DataFrame, tablePath: String,
                        keyCols: Seq[String], checkpointLocation: String,
                        preserveLineage: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // fail at wiring time, not first batch: the sink never creates —
    // and the v3 requirement of the preserving path fails here too
    val meta = graft.sources.IcebergIO.loadMetadata(tablePath)
    require(!preserveLineage || meta.formatVersion >= 3,
      "icebergUpsertSink(preserveLineage = true) requires format v3 " +
        "(row lineage); run upgradeFormatVersion first")
    stream.writeStream
      .option("checkpointLocation", checkpointLocation)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        commitStreamBatchUpsert(batch.toDF(), tablePath, keyCols, batchId,
          preserveLineage): Unit
      }
      .start()
  }

  /** EXACTLY-ONCE streaming APPEND sink into a native Iceberg table
    * ([[graft.sources.IcebergWrite]]): each micro-batch lands as one
    * snapshot stamped with its batch id, and restarts skip batches the
    * table has already absorbed ([[commitStreamBatch]]) — the classic
    * foreachBatch idempotent-sink recipe, with the table's own snapshot
    * summary as the transaction log (no side files). The table must
    * exist ([[graft.sources.IcebergWrite.create]] it first, partitioned
    * or not — the append path handles both). */
  def icebergAppendSink(stream: DataFrame, tablePath: String,
                        checkpointLocation: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // fail at wiring time, not first batch: the sink never creates
    graft.sources.IcebergIO.loadMetadata(tablePath): Unit
    stream.writeStream
      .option("checkpointLocation", checkpointLocation)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        commitStreamBatch(batch.toDF(), tablePath, batchId): Unit
      }
      .start()
  }

  /** Streaming DATA-QUALITY AUDIT sink: per micro-batch, evaluate the
    * declared [[graft.operators.Expectations]] checks against the
    * batch's rows and APPEND the verdict rows (stamped `batch_id`) to
    * an Iceberg audit table — the continuously-written quality ledger a
    * production ingest keeps next to the data (alerting tails the
    * table; a failed check is a row with `pass = false`, never a
    * swallowed exception). Exactly-once via the same batch-id replay
    * guard as [[icebergAppendSink]]; an EMPTY micro-batch audits as
    * zero violations (the checks are defined over zero rows). The audit
    * table must exist with columns
    * (check, kind, n_rows, n_violations, pass, batch_id). */
  def expectationsAuditSink(stream: DataFrame,
      checks: Seq[graft.operators.Expectations.Check], tablePath: String,
      checkpointLocation: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    graft.sources.IcebergIO.loadMetadata(tablePath): Unit
    require(checks.nonEmpty, "expectationsAuditSink: no checks given")
    stream.writeStream
      .option("checkpointLocation", checkpointLocation)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        val verdicts = graft.operators.Expectations
          .validate(batch.toDF(), checks)
          .withColumn("batch_id", lit(batchId))
        commitStreamBatch(verdicts, tablePath, batchId): Unit
      }
      .start()
  }

  /** Streaming read of an APPEND-ONLY Iceberg table: each micro-batch
    * picks up data files committed since the last one — the streaming
    * twin of [[graft.sources.IcebergIO.readIncremental]], composed from
    * Spark's file-stream source over the table's `data/` directory with
    * the schema taken from `metadata.json` (never inferred). The
    * brief-preferred composition: no custom `Source` needed, and the
    * file-stream checkpoint provides exactly-once file tracking.
    *
    * Contract (checked up front, matching the runtime jar's streaming
    * read): the table must be append-only SO FAR — any existing
    * overwrite/delete snapshot fails fast, because a file-grain stream
    * cannot express row deletes. Files from commits made AFTER the
    * stream starts are picked up as they land; an uncommitted writer's
    * in-progress temp files are NOT visible because both fixture and
    * real writers materialize data files fully before the metadata
    * swap, and `_`-prefixed/temp paths are ignored by the file source.
    *
    * KNOWN LIMIT of the file-grain composition: the append-only check
    * runs at stream CONSTRUCTION. `dataFileGlob` (default: the fixture
    * writer's `data-*.parquet` naming) keeps delete files written by a
    * LATER delete commit out of the stream — position/equality delete
    * files land in the same `data/` directory and would otherwise be
    * read as phantom table rows. A writer whose data files don't match
    * the glob needs it overridden; [[icebergSnapshotStream]] is the
    * metadata-driven source without either caveat — this file-grain
    * variant remains for pipelines that want the plain file-source
    * option surface (maxFilesPerTrigger etc.). */
  /** SNAPSHOT-exact Iceberg stream ([[graft.sources.IcebergStreamSource]]):
    * micro-batches planned from the snapshot log via sequence-number
    * offsets — arbitrary data file names work (no glob), a mid-stream
    * delete commit fails the query loudly instead of streaming phantom
    * rows, and restarts resume from the checkpointed sequence number.
    * Prefer this over the file-grain [[icebergAppendStream]].
    * `rowLineage = true` (v3 tables) appends `_row_id` +
    * `_last_updated_sequence_number` to every streamed row — the stable
    * per-row handle an incremental downstream consumer keys its state
    * on (it never changes across later deletes, compactions or
    * updates, so a consumer that saw the row once can always correlate
    * it). */
  def icebergSnapshotStream(spark: SparkSession, tablePath: String,
                            maxSnapshotsPerTrigger: Option[Int] = None,
                            rowLineage: Boolean = false): DataFrame = {
    val r0 = spark.readStream.format("graft-iceberg").option("path", tablePath)
    val r = if (rowLineage) r0.option("rowLineage", "true") else r0
    maxSnapshotsPerTrigger.fold(r)(n =>
        r.option("maxSnapshotsPerTrigger", n.toString))
      .load()
  }

  /** Streaming CDC over an Iceberg table: every commit streams as typed
    * change rows (`_change_type` insert/delete, `_commit_snapshot_id`;
    * `_change_ordinal` is the commit's position WITHIN its micro-batch —
    * order across batches by `_commit_snapshot_id`). Unlike
    * [[icebergSnapshotStream]], delete/update/upsert commits don't fail
    * the query — an UPDATE arrives as its delete+insert pair — and
    * data-preserving maintenance (compact, rewriteManifests) streams
    * nothing. The natural feed for a downstream materialized view or
    * keyed-state pipeline (`foreachBatch` + [[icebergUpsertSink]]). */
  def icebergChangelogStream(spark: SparkSession, tablePath: String,
                             maxSnapshotsPerTrigger: Option[Int] = None,
                             rowLineage: Boolean = false): DataFrame = {
    val r0 = spark.readStream.format("graft-iceberg").option("path", tablePath)
      .option("changelog", "true")
    val r = if (rowLineage) r0.option("rowLineage", "true") else r0
    maxSnapshotsPerTrigger.fold(r)(n =>
        r.option("maxSnapshotsPerTrigger", n.toString))
      .load()
  }

  /** File-grain append stream over `<table>/data/`. ALL of its guards
    * (append-only history, files-live-under-data/, glob-matches-names)
    * run at CONSTRUCTION time only — the runtime path is a plain
    * parquet file stream that never re-reads table metadata. So a
    * mid-stream `addFiles` import (committed in place OUTSIDE data/,
    * with operation "append" — no non-append fail-fast ever fires)
    * would NOT reach a stream that is already running; the rows appear
    * only to readers, and the next RESTART of this stream fails the
    * construction-time check loudly. Pipelines that import while
    * streaming must use [[icebergSnapshotStream]], which plans every
    * micro-batch from the manifests and picks imports up exactly. */
  def icebergAppendStream(spark: SparkSession, tablePath: String,
                          dataFileGlob: String = "data-*.parquet"): DataFrame = {
    val meta = graft.sources.IcebergIO.loadMetadata(tablePath)
    val nonAppend = meta.snapshots.filterNot(_.operation == "append")
    if (nonAppend.nonEmpty)
      throw new UnsupportedOperationException(
        "streaming read supports append-only tables; snapshot(s) " +
          nonAppend.map(s => s"${s.snapshotId} (${s.operation})").mkString(", ") +
          " are not appends")
    // Fail LOUDLY when the glob misses the table's actual data files
    // (e.g. a real writer's uuid naming): a silently empty stream is the
    // worst failure mode. The current snapshot's live file names are
    // already in the metadata — check them at construction, with
    // Hadoop's GlobFilter, i.e. EXACTLY the matcher `pathGlobFilter`
    // applies at runtime (java.nio glob semantics differ on escaping /
    // `**` / character-class edges, so a nio-validated glob could still
    // match differently once streaming).
    val matcher = new org.apache.hadoop.fs.GlobFilter(dataFileGlob)
    val paths = graft.sources.IcebergIO.liveDataFilePaths(spark, tablePath)
    // This stream scans ONLY `<table>/data/` — but `addFiles` commits
    // source files IN PLACE, outside data/. A name-glob check alone is
    // not enough: a permissive glob (`*.parquet`) matches the imported
    // names while the directory scan never visits them, and the
    // imported rows silently vanish from the stream. Require every live
    // data file to sit DIRECTLY under data/ (the native writer's flat
    // promote layout) and direct imported-table users to the
    // metadata-driven snapshot stream, which reads files wherever the
    // manifests say they are.
    val dataDir = graft.sources.IcebergIO.normalizePath(
      graft.sources.GraftFs.child(tablePath, "data"))
    val outside = paths.filterNot(p =>
      new org.apache.hadoop.fs.Path(p).getParent.toString == dataDir)
    if (outside.nonEmpty)
      throw new IllegalArgumentException(
        s"live data file(s) outside $dataDir (first: ${outside.head}) — " +
          "this file-grain stream only scans data/, so those rows would " +
          "silently never stream (addFiles-imported tables commit source " +
          "files in place); use icebergSnapshotStream, which follows the " +
          "manifests wherever the files live")
    val misses = paths
      .map(p => new org.apache.hadoop.fs.Path(p).getName)
      .filterNot(n => matcher.accept(new org.apache.hadoop.fs.Path(n)))
    if (misses.nonEmpty)
      throw new IllegalArgumentException(
        s"dataFileGlob '$dataFileGlob' does not match existing data " +
          s"file(s) ${misses.take(3).mkString(", ")} — the stream would " +
          "be silently empty; pass a glob matching this writer's naming")
    // v3 `unknown` columns never reach a parquet read schema (Spark's
    // parquet source rejects void columns; the files omit them) — read
    // the physical fields and project the null literal back, exactly
    // like the batch read path (IcebergIO.dataBranches)
    val physical = graft.sources.IcebergIO.readableFields(meta.schema)
    val base = spark.readStream
      .schema(physical)
      .option("pathGlobFilter", dataFileGlob)
      .parquet(graft.sources.GraftFs.child(tablePath, "data"))
    if (physical.length == meta.schema.length) base
    else base.select(meta.schema.fields.toSeq.map { f =>
      if (f.dataType == org.apache.spark.sql.types.NullType)
        org.apache.spark.sql.functions.lit(null).as(f.name)
      else org.apache.spark.sql.functions.col(f.name)
    }: _*)
  }
}
