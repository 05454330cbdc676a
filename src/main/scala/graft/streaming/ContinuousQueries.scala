package graft.streaming

import org.apache.spark.SparkEnv
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Runtime continuous-query management (SURVEY §2.9 C7 / §3.1 EP3).
  *
  * The reference runs a query service where SQL strings are submitted and
  * cancelled against a shared StreamingContext at runtime [SURVEY §3.1 R].
  * Structured Streaming's StreamingQueryManager already is that facility;
  * this wrapper pins graft's conventions (named queries, memory/parquet
  * sinks, explicit trigger) and gives the reference's submit/cancel/list
  * verbs a direct home.
  */
object ContinuousQueries {
  /** Submit a continuous query writing to an in-memory sink (results
    * readable as `SELECT * FROM <name>`) — the reference's "register and
    * query continuously" loop. Complete mode suits windowed aggregates. */
  def submitMemory(df: DataFrame, name: String,
      outputMode: String = "complete"): StreamingQuery =
    df.writeStream.queryName(name).format("memory")
      .outputMode(outputMode)
      .trigger(Trigger.ProcessingTime(0))
      .start()

  /** Drain everything currently available, then stop (Trigger.AvailableNow)
    * — the backfill/catch-up mode: process a large backlog with streaming
    * semantics (state, exactly-once) but batch-job lifecycle. */
  def submitBackfill(df: DataFrame, name: String, path: String,
      checkpoint: String): StreamingQuery =
    df.writeStream.queryName(name).format("parquet")
      .option("path", path).option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()

  /** Submit an append-mode file sink (the INSERT INTO <external> path). */
  def submitParquet(df: DataFrame, name: String, path: String,
      checkpoint: String): StreamingQuery =
    df.writeStream.queryName(name).format("parquet")
      .option("path", path).option("checkpointLocation", checkpoint)
      .outputMode("append")
      .start()

  /** EP3 — the reference's query-service loop: a SQL STRING (reference
    * dialect or plain Spark SQL) in, a named continuous query out.
    * The text is rewritten by [[CepSql.translate]] (no-op for plain SQL),
    * resolved against the session's registered views — any view created
    * from a streaming DataFrame yields a streaming plan — and started
    * against an in-memory sink readable as `SELECT * FROM <name>`.
    * Cancel with [[cancel]], enumerate with [[list]]; many submitted
    * queries share one session/scheduler, exactly like the reference's
    * daemon sharing one StreamingContext. */
  def submitSql(spark: SparkSession, sqlText: String, name: String,
      outputMode: String = "complete", tsCol: String = "ts"): StreamingQuery = {
    val df = CepSql.sql(spark, sqlText, tsCol)
    require(df.isStreaming,
      s"'$name' resolved to a batch plan — register the source views " +
        "from readStream/MemoryStream before submitting, or run the " +
        "statement through spark.sql directly for a one-shot answer")
    submitMemory(df, name, outputMode)
  }

  /** EP3 for CEP pattern TEXT on a LIVE stream: the batch MATCH PATTERN
    * rewrite (ranking window / anti join) cannot run incrementally, so a
    * pattern statement submitted here dispatches to the STREAMING
    * detector with the same proven semantics instead:
    *
    *  - `a THEN b`            → [[CepSequence]]      (≡ q_cep_seq)
    *  - `a THEN NOT b`        → [[AbsenceDetector]]  (≡ q_cep_absence)
    *  - `a THEN b THEN c …`   → [[PatternMatch]]     (≡ q_pattern_chain)
    *  - `a THEN b THEN NOT c` → [[ChainAbsenceDetector]] (r7 — absence
    *    after a matched prefix, watermark-timer emission)
    *  - `a{m,} THEN [NOT] b`  → [[RunDetector]]      (≡ q_pattern_times,
    *    completed runs; the NOT form keeps only timed-out runs)
    *  - `… AFTER MATCH SKIP PAST LAST ROW` → [[SkipDetector]]
    *    (≡ q_pattern_skip — greedy non-overlapping, watermark-finalized)
    *  - `a THEN b? THEN c …`  → [[PatternMatch.detectOpt]] (r7 —
    *    optional mid-chain steps, per-event skip decision); with a
    *    trailing `THEN NOT` → [[ChainAbsenceDetector.detectOptWhere]]
    *    (r8 — the same skip decision inside the absence prefix)
    *  - `PERMUTE(a, b)`       → two directional [[CepSequence]]
    *    detectors unioned, tagged by the anchor's event name (r7)
    *  - `… MEASURES fn(col), ev.col, MATCH_NUMBER()` →
    *    [[PatternMatch.detectMeasures]] (r7, generalized r8 — span
    *    aggregates carried per open partial over ANY numeric converter
    *    column: value, event_id, user_id); span aggregates over
    *    QUANTIFIED chains → [[RunChainDetector.detectMeasures]] (r8 —
    *    FIRST/LAST boundary refs over numeric converter columns stream
    *    there too; MATCH_NUMBER/class refs/ts boundaries on quantified
    *    chains stay batch-routed, loudly)
    *
    * Alternation steps (`click|view`, r7) dispatch through every arm —
    * the detectors take event-type classes. Quantified chains (`{m,}`
    * beyond the 2-step head form) dispatch to [[RunChainDetector]], and
    * since r8 `THEN NOT` after a quantified prefix dispatches to
    * [[RunChainDetector.detectAbsent]]; RELUCTANT quantifiers (`{m,}?`,
    * r8) ride the same chain arms via the detector's lazy mode. 3-way
    * PERMUTE streams since r10 ([[Permute3Detector]] — per-anchor
    * dual-order tracker with held arm-2 release), as do the 2-step
    * reluctant HEAD forms — `{1,}?` and the reluctant absence at any m
    * ([[LazyRunDetector]]). A quantified step whose class OVERLAPS its
    * predecessor's streams since r11, generalized in r12 to the whole
    * greedy head family — `A THEN B{m,}` plus ANY tail
    * `THEN C[{k,}] THEN D … [THEN NOT Z]`, tail classes free to
    * overlap B's and positive tail steps QUANTIFIED since r13 —
    * completion AND absent forms (each quantified tail step gets its
    * own shared island tracker; pendings advance at island close —
    * the batch rank-1-by-run_start join made incremental; the
    * trailing NOT is a class, never a run)
    * ([[OverlapRunDetector]] — one shared island tracker per key, the
    * batch GLOBAL gaps-and-islands made incremental; pendings CHAIN
    * through the tail steps, the trailing NOT resolving at the
    * watermark deadline), and MEASURES over the whole completion
    * family — the 2-step head (r12: per-anchor span accumulators +
    * island boundary slots) and since r13 any completion tail,
    * unquantified OR quantified (pendings carry the span accumulators
    * to their final tail match; tail class refs capture per step;
    * tail-ISLAND boundary refs at their island's close), plus
    * MATCH_NUMBER (r13 session 2: completions HOLD until no live
    * anchor/pending with a smaller (ts_1, id_1) remains, then release
    * in sort order on a persistent per-key counter —
    * [[OverlapRunDetector.detectMeasures]]). RELUCTANT overlap heads
    * stream WITH tails since r14 (verdict r13 #3): the truncated match
    * fixes at the island's m-th event, which then plays the island
    * close's role as the pendings' birth point — completion, absent,
    * and quantified-tail forms all compose, m = 1 included. MEASURES ×
    * absent and MEASURES × reluctant overlap stream since r14 too
    * (frozen prefix-span accumulators + watermark verdicts; m-th-event
    * serving), matching the batch rewrite's new anti-join-wrapped
    * measures form (q_measure_absent) — and across the NON-overlap
    * families too (r14 session 2: [[PatternMatch.detectMeasures]] and
    * [[RunChainDetector.detectMeasures]] gained `absentPred` arms —
    * parked prefixes with frozen spans, watermark verdicts), so
    * MEASURES × absent streams on every chain family. The remaining
    * batch-only forms, each rejected loudly with a pointer to
    * [[CepSql.sql]]: overlap at a non-head boundary (OverlapRunSpec
    * pins the counterexample);
    * optional steps × quantifiers reject at PARSE for both engines;
    * `{1,}?` outside the 2-step head or an overlap head; bounded lazy
    * `{m,n}?` (rejected at parse). Measures × reluctant stream since
    * r8 on NON-overlap chains (lazy completions fold POST — the m-th
    * event is a span row, unlike a greedy closure).
    *
    * The source view must be a STREAMING view with the events-table
    * converter schema `(event_id, ts, user_id, event_type, value)` and
    * the pattern must partition by `user_id` (the convention every
    * streaming detector keys on) — both violations fail loudly.
    * `lateness` bounds state for the timer-driven forms. */
  def submitPattern(spark: SparkSession, patternText: String, name: String,
      lateness: String = "0 seconds"): StreamingQuery = {
    val spec = CepSql.parsePattern(patternText)
    require(spec.key.equalsIgnoreCase("user_id"),
      s"streaming pattern queries partition by user_id (got '${spec.key}')" +
        " — the detectors key on the events-table convention")
    // reluctant quantifiers `{m,}?` stream via RunChainDetector's lazy
    // mode (r8) for >= 2-step-anchored chains with m >= 2; the 2-step
    // HEAD forms — `{1,}?` and the reluctant absence at any m — stream
    // since r10 via the dedicated [[LazyRunDetector]] (the anchor fixes
    // at the m-th event, independent of the run's eventual length).
    // What stays loudly batch-only: `{1,}?` anywhere OTHER than the
    // head of a 2-step unbounded pattern (RunChainDetector's anchor and
    // greedy-close fast paths assume m >= 2 mid-chain).
    val lazy2Step = spec.steps.length == 2 && spec.steps.head.reluctant &&
      spec.steps.head.minTimes.isDefined &&
      spec.steps.head.maxTimes.isEmpty &&
      spec.steps.last.minTimes.isEmpty && spec.measures.isEmpty
    // r14: the OVERLAP head `A THEN B{m,}?` admits m = 1 too — the
    // island's 1st event is a well-defined emission point for the
    // OverlapRunDetector engine (the greedy-close fast paths that
    // assume m >= 2 belong to RunChainDetector's mid-chain lazy mode,
    // which the overlap dispatch never uses)
    val lazyOverlapHead = spec.steps.length >= 2 &&
      spec.steps(1).reluctant && spec.steps(1).minTimes.isDefined &&
      spec.steps(1).maxTimes.isEmpty &&
      spec.steps.head.events.toSet
        .intersect(spec.steps(1).events.toSet).nonEmpty
    if (spec.steps.exists(st => st.reluctant && st.minTimes.contains(1)) &&
        !lazy2Step && !lazyOverlapHead)
      throw new IllegalArgumentException(
        "reluctant {1,}? streams only as the head of a 2-step pattern " +
          "or over an overlap head (r14) — run the batch rewrite via " +
          "CepSql.sql for other positions")
    val src0 = spark.table(spec.table)
    require(src0.isStreaming,
      s"'${spec.table}' resolved to a batch view — submitPattern runs " +
        "patterns CONTINUOUSLY; for a one-shot answer use CepSql.sql")
    // loud per-key state circuit breaker (r14, verdict #6): caps live
    // anchors + pendings per key on the overlap family — the one
    // detector class whose in-flight candidates are linear in the
    // window content under a hostile key. Breach FAILS the query with
    // a named error, never a silent drop.
    val maxPendings: Option[Int] =
      spark.conf.getOption("spark.graft.cep.maxPendings").map(_.toInt)
    import org.apache.spark.sql.functions.col
    implicit val enc = org.apache.spark.sql.Encoders.product[CepEvent]
    val src = src0.select(col("event_id").cast("long"), col("ts"),
      col("user_id").cast("long"), col("event_type"),
      col("value").cast("double")).as[CepEvent]
    // `lateness` reaches every arm: the absence/run detectors apply the
    // watermark themselves (a second upstream one would be a disallowed
    // redefinition), while the sequence/chain detectors take it via an
    // explicitly watermarked input — their state pruning reads the
    // WATERMARK (not the per-batch max), so an out-of-order completion
    // inside the bound still matches (SubmitSqlSpec pins it).
    lazy val srcWm = src.withWatermark("ts", lateness)
    val classes = spec.steps.map(_.events.toSet)
    val quantifiedTail = spec.steps.tail.exists(_.minTimes.isDefined)
    // step conditions (r7 DEFINE-lite): streaming evaluates them on the
    // converter schema, so only the `value` column is available. Since
    // r8 EVERY arm takes them via predicate dispatch — each detector's
    // class test generalized to the full step predicate: on quantified
    // arms a condition-failing event of the run's class BREAKS the run
    // (the batch gaps-and-islands indicator); on absence/skip arms a
    // same-class event outside its condition is invisible (the batch
    // `type AND cond` anti-join/mask predicate). PERMUTE steps carry no
    // conditions by grammar.
    val hasCond = spec.steps.exists(_.cond.isDefined)
    def stepPred(st: CepSql.PatternStep): CepEvent => Boolean = {
      val cls = st.events.toSet
      st.cond match {
        case None => e => cls.contains(e.event_type)
        case Some(c) =>
          // any numeric converter column (r8 — was value-only); a
          // non-numeric column throws loudly at submit time
          val get = PatternMatch.numColumn(c.col)
          val n = c.num.toDouble
          val cmp: Double => Boolean = c.op match {
            case "<"  => _ < n
            case "<=" => _ <= n
            case ">"  => _ > n
            case ">=" => _ >= n
            case "="  => _ == n
            case _    => _ != n
          }
          e => cls.contains(e.event_type) && cmp(get(e))
      }
    }
    val out: DataFrame =
      if (spec.measures.nonEmpty &&
          spec.steps.exists(_.minTimes.isDefined)) {
        // MEASURES over a quantified chain (r8; MATCH_NUMBER since r9
        // via the held-release ordering): span aggregates, boundary
        // refs, and numbering stream via
        // RunChainDetector.detectMeasures — class refs on UNQUANTIFIED
        // steps of a quantified chain reject loudly instead of being
        // silently dropped. The overlap carve-out applies unchanged.
        spec.measures.foreach {
          case _: CepSql.SpanAgg => ()
          case b: CepSql.BoundRef =>
            // FIRST/LAST boundary refs stream since r8; ts since r9
            // (micros ride the Double slot exactly, cast back below)
            if (!Set("value", "event_id", "user_id", "ts")(
                b.col.toLowerCase(java.util.Locale.ROOT)))
              throw new IllegalArgumentException(
                "streaming FIRST/LAST boundary refs read the converter " +
                  "schema's value/event_id/user_id/ts columns — other " +
                  "columns via the batch rewrite CepSql.sql")
          case _: CepSql.MatchNum => () // held-release numbering (r9)
          case cr: CepSql.ClassRef =>
            // unquantified-step class refs stream since r9 (matched-row
            // capture into the slot vector); refs to quantified steps
            // never reach here — the parser desugars them to LAST
            if (!Set("value", "event_id", "user_id", "ts")(
                cr.col.toLowerCase(java.util.Locale.ROOT)))
              throw new IllegalArgumentException(
                "streaming class refs read the converter schema's " +
                  "value/event_id/user_id/ts columns — other columns " +
                  "via the batch rewrite CepSql.sql")
        }
        val measuresOverlapAt = spec.steps.sliding(2).exists { pair =>
          pair.length == 2 && pair.last.minTimes.isDefined &&
            pair.head.events.toSet.intersect(
              pair.last.events.toSet).nonEmpty
        }
        val det: Dataset[RunChainMeasured] = if (measuresOverlapAt) {
          // MEASURES × overlap streams since r12 in the greedy 2-step
          // head form `A THEN B{m,}`, generalized r13 to ANY
          // unquantified completion tail `A THEN B{m,} THEN C THEN D …`
          // (verdict r12 #4): span aggregates accumulate per anchor
          // and then per PENDING until its final tail match (the batch
          // span join covers first..last matched rows inclusive
          // regardless of class), FIRST/LAST read the shared island's
          // boundary rows (frozen into the pending at close), class
          // refs capture at the anchor or at each tail step's match,
          // and MATCH_NUMBER holds completions for ordered release
          // (r13 session 2). MEASURES × the ABSENT overlap form
          // streams since r14 (matching the batch rewrite's new
          // anti-join-wrapped measures): done-stage pendings freeze
          // their prefix-span accumulators and verdict at the
          // watermark. Reluctant overlap measures still reject
          // loudly, as does overlap at a non-head boundary here.
          val sts = spec.steps
          val onlyHeadOvM = sts.sliding(2).zipWithIndex.forall {
            case (pair, idx) =>
              idx == 0 || !(pair.length == 2 &&
                pair.last.minTimes.isDefined &&
                pair.head.events.toSet.intersect(
                  pair.last.events.toSet).nonEmpty)
          }
          val headForm = onlyHeadOvM && sts.length >= 2 &&
            sts.head.minTimes.isEmpty &&
            sts(1).minTimes.isDefined &&
            !sts.exists(_.optional) &&
            // the head may be RELUCTANT since r14 (m-th-event serving;
            // {m,n}? rejects at parse); tail steps must stay greedy
            !sts.drop(2).exists(_.reluctant) &&
            (!sts(1).reluctant || sts(1).maxTimes.isEmpty)
          if (!headForm)
            throw new IllegalArgumentException(
              "MEASURES over an overlapping run streams only in the " +
                "greedy-or-reluctant head family `A THEN B{m,}[?] " +
                "[THEN C[{k,}] THEN D … [THEN NOT Z]]` " +
                "(OverlapRunDetector.detectMeasures; quantified tail " +
                "steps since r13, absent and reluctant forms since " +
                "r14) — for non-head overlap use the batch rewrite " +
                "via CepSql.sql")
          OverlapRunDetector.detectMeasures(src, stepPred(sts.head),
            stepPred(sts(1)), sts(1).minTimes.get, sts(1).maxTimes,
            spec.withinMs, spec.measures, Some(lateness),
            tail = sts.drop(2).map(stepPred),
            tailQuant = sts.drop(2).map(s =>
              s.minTimes.map(m => (m, s.maxTimes))),
            maxPendings =
              spark.conf.getOption("spark.graft.cep.maxPendings")
                .map(_.toInt),
            absent = spec.absent,
            reluctant = sts(1).reluctant)
        } else if (spec.absent)
          // non-overlap quantified absent measures (r14): the positive
          // prefix runs the completion machinery; verdicts are parked
          // prefixes resolved at the watermark — the batch
          // anti-join-wrapped measures rewrite's streaming twin
          RunChainDetector.detectMeasures(srcWm,
            spec.steps.init.map(s => (stepPred(s), s.minTimes)),
            spec.withinMs,
            spec.steps.init.map(_.maxTimes), spec.measures,
            spec.steps.init.map(_.reluctant),
            absentPred = Some(stepPred(spec.steps.last)))
        else RunChainDetector.detectMeasures(srcWm,
          spec.steps.map(s => (stepPred(s), s.minTimes)), spec.withinMs,
          spec.steps.map(_.maxTimes), spec.measures,
          spec.steps.map(_.reluctant))
        // same alias + integral-cast discipline as the plain-chain
        // measures arm (batch schema parity)
        val intCols = Set("event_id", "user_id")
        val mcols = spec.measures.zipWithIndex.map { case (m, i) =>
          val c = col("vals").getItem(i)
          val typed = m match {
            case CepSql.SpanAgg("COUNT", _, _) => c.cast("long")
            case CepSql.SpanAgg(fn, cc, _)
                if fn != "AVG" &&
                  intCols(cc.toLowerCase(java.util.Locale.ROOT)) =>
              c.cast("long")
            case CepSql.BoundRef(_, _, cc, _, _)
                if intCols(cc.toLowerCase(java.util.Locale.ROOT)) =>
              c.cast("long")
            case CepSql.BoundRef(_, _, cc, _, _)
                if cc.equalsIgnoreCase("ts") =>
              // the slot carries exact event micros — back to TIMESTAMP
              // for batch schema parity (run_start/run_end columns)
              org.apache.spark.sql.functions
                .timestamp_micros(c.cast("long"))
            case _: CepSql.MatchNum => c.cast("long")
            case CepSql.ClassRef(_, cc, _, _)
                if intCols(cc.toLowerCase(java.util.Locale.ROOT)) =>
              c.cast("long")
            case CepSql.ClassRef(_, cc, _, _)
                if cc.equalsIgnoreCase("ts") =>
              org.apache.spark.sql.functions
                .timestamp_micros(c.cast("long"))
            case _ => c
          }
          typed.as(m.alias)
        }
        det.toDF().select(
          (Seq(col("user_id"), col("step_vals"), col("step_ts"),
            col("start_ts"), col("end_ts")) ++ mcols): _*)
      } else if (spec.permute) {
        // PERMUTE(a, b) (r7): union of the two directional CepSequence
        // detectors, tagged with the anchor's event name — the exact
        // streaming twin of the batch union-of-rank-1 rewrite.
        // PERMUTE(a, b, c) (r10, was batch-only through r9): one
        // tracker per anchor advances BOTH candidate orders over the
        // shared window; arm 1 emits on completion, arm 2 holds until
        // the window closes behind the watermark (listed-order
        // preference — the consumed-island suppressor discipline).
        // Replay ≡ batch pinned in SubmitSqlSpec; held-triple recovery
        // in RecoverySpec.
        if (spec.steps.length == 3)
          Permute3Detector.detect(srcWm, spec.steps.map(_.event),
            spec.withinMs).toDF()
        else {
          val Seq(ca, cb) = classes
          def leg(firsts: Set[String], seconds: Set[String], ev: String) =
            CepSequence.detect(srcWm, firsts, seconds, spec.withinMs).toDF()
              .select(col("user_id"),
                org.apache.spark.sql.functions.lit(ev).as("first_ev"),
                col("sid").as("first_id"), col("pid").as("second_id"),
                col("s_ts").as("first_ts"), col("p_ts").as("second_ts"))
          leg(ca, cb, spec.steps.head.event)
            .union(leg(cb, ca, spec.steps.last.event))
        }
      } else if (spec.skipPast) {
        SkipDetector.detectWhere(src, spec.steps.map(stepPred),
          spec.withinMs, Some(lateness))
      } else if (lazy2Step &&
          (spec.steps.head.minTimes.contains(1) || spec.absent)) {
        // 2-step reluctant head forms (r10): `a{m,}? THEN [NOT] b` for
        // m = 1, and the reluctant absence at any m — the truncated
        // anchor fixes at the m-th event, so LazyRunDetector pends it
        // there and resolves follow/no-follow like RunDetector (the
        // no-follow verdict is watermark-timer-driven). m >= 2 THEN
        // keeps its r8 RunChainDetector lazy routing below.
        val runs = LazyRunDetector.detectWhere(src,
          stepPred(spec.steps.head), spec.steps.head.minTimes.get,
          stepPred(spec.steps.last), spec.withinMs, Some(lateness))
        val wanted =
          if (spec.absent) runs.filter(_.next_follow.isEmpty)
          else runs.filter(_.next_follow.isDefined)
        wanted.toDF()
      } else if (quantifiedTail ||
          (spec.steps.head.minTimes.isDefined && spec.steps.length != 2) ||
          spec.steps.exists(_.reluctant)) {
        // generalized quantified chain (r7) → RunChainDetector. A
        // quantified step whose class OVERLAPS its predecessor's can't
        // ride it (the predecessor's matched event belongs to the run
        // in the batch's GLOBAL gaps-and-islands, which a per-partial
        // run tracker cannot see — `click THEN click{2,}` on three
        // clicks matches NOTHING in batch, the island starts at the
        // anchor). The 2-step greedy form streams since r11 via
        // [[OverlapRunDetector]] — ONE island tracker per key shared
        // by every anchor; deeper/reluctant/absent overlap forms stay
        // loudly batch-routed (a second consumer of the shared island
        // is not close-driven).
        val overlapAt = spec.steps.sliding(2).exists { pair =>
          pair.length == 2 && pair.last.minTimes.isDefined &&
            pair.head.events.toSet.intersect(
              pair.last.events.toSet).nonEmpty
        }
        if (overlapAt) {
          // r11 session 2 grew the overlap family to three greedy
          // forms; r12 generalizes it to ANY unquantified tail —
          // `A THEN B{m,} THEN C THEN D … [THEN NOT Z]` — on
          // OverlapRunDetector's shared island tracker: a qualifying
          // close parks the anchor as a pending that CHAINS through
          // the tail steps (per-step rank-1), the optional trailing
          // NOT resolving at the watermark deadline. The r11 "C
          // disjoint from B" restriction is DROPPED: tail resolution
          // is island-independent in batch too (fuzz-pinned in
          // OverlapRunSpec). Overlap anywhere but the head boundary,
          // reluctant runs, optional steps, and quantified tail steps
          // stay loudly batch-routed.
          val sts = spec.steps
          val onlyHeadOv = sts.sliding(2).zipWithIndex.forall {
            case (pair, idx) =>
              idx == 0 || !(pair.length == 2 &&
                pair.last.minTimes.isDefined &&
                pair.head.events.toSet.intersect(
                  pair.last.events.toSet).nonEmpty)
          }
          val baseCore = onlyHeadOv && sts(1).minTimes.isDefined &&
            sts.head.events.toSet.intersect(sts(1).events.toSet)
              .nonEmpty &&
            sts.head.minTimes.isEmpty && !sts.exists(_.optional)
          val base = baseCore && !sts.exists(_.reluctant)
          // r14 (verdict #3): a RELUCTANT head composes with tails —
          // the truncated match fixes at the island's m-th event,
          // which then plays the island close's role as the pendings'
          // birth point; tails advance via the shared greedy
          // machinery. The head must be unbounded ({m,n}? rejects at
          // parse) and tail steps themselves greedy.
          val baseR = baseCore && sts(1).reluctant &&
            sts(1).maxTimes.isEmpty && !sts.drop(2).exists(_.reluctant)
          // quantified TAIL steps stream since r13 (non-absent only):
          // each gets its own shared island tracker in the detector,
          // advancing pendings at island close — the batch rank-1-by-
          // run_start join made incremental
          val tailQuantSpecs = sts.drop(2).map(s =>
            s.minTimes.map(m => (m, s.maxTimes)))
          val tailHasQuant = tailQuantSpecs.exists(_.isDefined)
          val streamable2 = base && sts.length == 2 && !spec.absent
          val streamable3 = base && sts.length == 3 && !tailHasQuant
          // r13 session 2: the absent form admits quantified POSITIVE
          // tail steps (the trailing NOT is a class, never a run — the
          // parser cannot produce a quantified NOT, so the last spec is
          // always unquantified here)
          val streamableN = (base || baseR) && sts.length >= 3
          if (streamable2)
            return submitMemory(OverlapRunDetector.detectWhere(src,
              stepPred(sts.head), stepPred(sts(1)),
              sts(1).minTimes.get, sts(1).maxTimes,
              spec.withinMs, Some(lateness),
              maxPendings = maxPendings).toDF(), name, "append")
          // RELUCTANT overlap head `A THEN B{m,}?` (r13 session 2):
          // the truncated run fixes at the island's m-th event, so
          // emission is immediate there — see
          // OverlapRunDetector.detectReluctantWhere
          val streamable2R = onlyHeadOv && sts.length == 2 &&
            !spec.absent && sts.head.minTimes.isEmpty &&
            sts(1).minTimes.isDefined && sts(1).reluctant &&
            sts(1).maxTimes.isEmpty && !sts.exists(_.optional) &&
            sts.head.events.toSet.intersect(sts(1).events.toSet).nonEmpty
          if (streamable2R)
            return submitMemory(OverlapRunDetector.detectReluctantWhere(
              src, stepPred(sts.head), stepPred(sts(1)),
              sts(1).minTimes.get, spec.withinMs,
              Some(lateness), maxPendings = maxPendings).toDF(),
              name, "append")
          if (streamable3 && !spec.absent)
            return submitMemory(OverlapRunDetector.detectFollowWhere(
              src, stepPred(sts.head), stepPred(sts(1)),
              sts(1).minTimes.get, sts(1).maxTimes, stepPred(sts(2)),
              spec.withinMs, Some(lateness),
              maxPendings = maxPendings).toDF(), name, "append")
          if (streamable3 && spec.absent)
            return submitMemory(OverlapRunDetector.detectAbsentWhere(
              src, stepPred(sts.head), stepPred(sts(1)),
              sts(1).minTimes.get, sts(1).maxTimes, stepPred(sts(2)),
              spec.withinMs, lateness,
              maxPendings = maxPendings).toDF(), name, "append")
          if (streamableN) {
            // flatten the tail arrays back to the batch rewrite's
            // columns: len_i + ts_i for a quantified tail step (the
            // slot carries the run length), id_i + ts_i otherwise (the
            // absent form emits the prefix through step N−1, exactly
            // like the batch anti-join)
            val detN = OverlapRunDetector.detectChainWhere(src,
              stepPred(sts.head), stepPred(sts(1)),
              sts(1).minTimes.get, sts(1).maxTimes,
              sts.drop(2).map(stepPred), spec.absent, spec.withinMs,
              Some(lateness), tailQuant = tailQuantSpecs,
              reluctant = sts(1).reluctant,
              maxPendings = maxPendings).toDF()
            val nTail = if (spec.absent) sts.length - 3 else sts.length - 2
            val idCols = (0 until nTail).map { i =>
              val nm = if (tailQuantSpecs(i).isDefined) "len" else "id"
              col("tail_ids").getItem(i).as(s"${nm}_${i + 3}")
            }
            val tsCols = (0 until nTail).map(i =>
              col("tail_ts").getItem(i).as(s"ts_${i + 3}"))
            return submitMemory(detN.select(
              (Seq(col("user_id"), col("id_1"), col("len_2")) ++ idCols ++
                Seq(col("ts_1"), col("ts_2")) ++ tsCols): _*),
              name, "append")
          }
          throw new IllegalArgumentException(
            "a {m,} step whose class overlaps the previous step's " +
              "streams only in the head family `A THEN B{m,}[?] " +
              "[THEN C[{k,}] THEN D … [THEN NOT Z]]` (quantified " +
              "positive tail steps since r13, completion and absent " +
              "forms; reluctant heads — with or without tails — since " +
              "r14) — for overlap at a later boundary or optional " +
              "steps use the batch rewrite via CepSql.sql")
        }
        // watermarked input (r8): the detector's pruning horizon reads
        // getCurrentWatermarkMs — un-watermarked it fell back to the
        // per-batch max and an in-bound out-of-order event could find
        // its partial already pruned (ADVICE r7). Step conditions (r8)
        // ride the same predicate dispatch as plain chains: a
        // condition-failing event of the run's class BREAKS the run,
        // exactly like the batch gaps-and-islands indicator.
        if (spec.absent)
          // THEN NOT after the quantified prefix (r8): the detector
          // watermarks the input itself (timer-driven verdicts)
          RunChainDetector.detectAbsent(src,
            spec.steps.init.map(s => (stepPred(s), s.minTimes)),
            spec.withinMs, spec.steps.init.map(_.maxTimes),
            stepPred(spec.steps.last), lateness,
            spec.steps.init.map(_.reluctant)).toDF()
        else
          RunChainDetector.detectWhere(srcWm,
            spec.steps.map(s => (stepPred(s), s.minTimes)),
            spec.withinMs, spec.steps.map(_.maxTimes),
            spec.steps.map(_.reluctant)).toDF()
      } else spec.steps.head.minTimes match {
        case Some(mt) =>
          // conditions (r8) ride predicate dispatch — see the
          // quantified-chain arm; RunDetector applies the watermark
          // itself (timer-driven absence verdicts)
          val runs = RunDetector.detectWhere(src, stepPred(spec.steps.head),
            mt, stepPred(spec.steps.last),
            spec.withinMs, Some(lateness), spec.steps.head.maxTimes)
          // completed runs for the THEN form; timed-out runs for THEN NOT
          val wanted =
            if (spec.absent) runs.filter(_.next_follow.isEmpty)
            else runs.filter(_.next_follow.isDefined)
          wanted.toDF()
        case None if spec.measures.nonEmpty =>
          // MEASURES (r7, list since r8): plain chains; span aggregates
          // and class references read any NUMERIC converter column
          // since r8 (value, event_id, user_id) — detectMeasures
          // rejects the rest loudly at submit. The trailing-NOT form
          // streams since r14: the positive prefix parks with frozen
          // accumulators and verdicts at the watermark
          // (PatternMatch.detectMeasures' absentPred arm — matches the
          // batch anti-join-wrapped measures, q_measure_absent).
          val det =
            if (spec.absent)
              PatternMatch.detectMeasures(srcWm,
                spec.steps.init.map(stepPred), spec.withinMs,
                spec.measures,
                absentPred = Some(stepPred(spec.steps.last)))
            else PatternMatch.detectMeasures(srcWm,
              spec.steps.map(stepPred), spec.withinMs, spec.measures)
          // project the vals vector onto the declared aliases, casting
          // the integer-valued measures back to long so the streaming
          // schema matches the batch rewrite's: COUNT, MATCH_NUMBER, and
          // (r8) any non-AVG aggregate or class ref over an integral
          // converter column (exact through the double carrier — ids and
          // their span sums stay far below 2^53)
          val intCols = Set("event_id", "user_id")
          val mcols = spec.measures.zipWithIndex.map {
            case (m, i) =>
              val c = col("vals").getItem(i)
              val typed = m match {
                case CepSql.SpanAgg("COUNT", _, _) => c.cast("long")
                case _: CepSql.MatchNum            => c.cast("long")
                case CepSql.SpanAgg(fn, cc, _)
                    if fn != "AVG" &&
                      intCols(cc.toLowerCase(java.util.Locale.ROOT)) =>
                  c.cast("long")
                case CepSql.ClassRef(_, cc, _, _)
                    if intCols(cc.toLowerCase(java.util.Locale.ROOT)) =>
                  c.cast("long")
                case _ => c
              }
              typed.as(m.alias)
          }
          det.toDF().select(
            (Seq(col("user_id"), col("step_ids"), col("start_ts"),
              col("end_ts")) ++ mcols): _*)
        case None if spec.steps.length == 2 && spec.absent =>
          AbsenceDetector.detectWhere(src, stepPred(spec.steps.head),
            stepPred(spec.steps.last), spec.withinMs, lateness).toDF()
        case None if spec.steps.length == 2 && !hasCond =>
          CepSequence.detect(srcWm, classes.head, classes.last,
            spec.withinMs).toDF()
        case None if spec.absent =>
          // optional mid-prefix steps (r8, previously rejected): the
          // composite-pivot decision streams per event, so the same
          // arm serves both — the plain form keeps its Seq[Long] schema
          if (spec.steps.exists(_.optional))
            ChainAbsenceDetector.detectOptWhere(src,
              spec.steps.map(stepPred), spec.steps.map(_.optional),
              spec.withinMs, lateness).toDF()
          else
            ChainAbsenceDetector.detectWhere(src, spec.steps.map(stepPred),
              spec.withinMs, lateness).toDF()
        case None if spec.steps.exists(_.optional) =>
          // optional-step chains (r7): per-event skip decision, so the
          // same predicate dispatch streams them (value-col conditions
          // included, like plain chains)
          PatternMatch.detectOpt(srcWm, spec.steps.map(stepPred),
            spec.steps.map(_.optional), spec.withinMs).toDF()
        case None =>
          // plain chains (incl. conditioned 2-step, r7): predicate
          // dispatch — PatternMatch is CepSequence for 2 steps
          PatternMatch.detectWhere(srcWm, spec.steps.map(stepPred),
            spec.withinMs).toDF()
      }
    submitMemory(out, name, "append")
  }

  def list(spark: SparkSession): Seq[StreamingQuery] =
    spark.streams.active.toSeq

  def cancel(spark: SparkSession, name: String): Boolean =
    spark.streams.active.find(_.name == name) match {
      case Some(q) => q.stop(); true
      case None => false
    }

  def awaitAll(spark: SparkSession): Unit =
    spark.streams.active.foreach(_.processAllAvailable())
}

/** Session configuration for unbounded streams: state store, checkpoint
  * file system and broadcast chunk size, installed by [[applyTo]].
  *
  * RocksDB keeps state off-heap and disk-backed, so window state scales
  * past executor memory (the reference kept window state in sharded Redis
  * for the same reason), without an external service.
  *
  * Invariants of an [[applyTo]] session:
  *  - '''Checkpoint writes start no process.''' Without the native
  *    Hadoop library, Hadoop's local file system runs `chmod` on every
  *    create and `readlink` on every rename, and every micro-batch writes
  *    offset-log, commit-log, state-changelog and checkpoint-checksum
  *    files, each as a temp file, a `.crc` and a rename. One cep-stream
  *    benchmark run (`--seconds 25`, 4 vCPUs) started 11,672 processes
  *    (9,256 `readlink`, 2,351 `chmod`) and spent 8.5–9.4 s per query in
  *    state commits; fork-free, 82 processes (none for checkpoint I/O) and
  *    1.1–1.2 s, with the micro-batch median at half.
  *    [[checkpointFs]] makes `file:` checkpoint I/O go through
  *    [[ForkFreeLocalFs]] (`FileContext`: logs, changelogs, snapshots) and
  *    [[ForkFreeLocalFileSystem]] (`FileSystem`: RocksDB's SST copies),
  *    which write the same files. Spark resolves checkpoint I/O through
  *    the session's Hadoop configuration on the driver (offset and commit
  *    logs) and in tasks (state stores), so the session entries cover both.
  *  - '''Broadcasts allocate no humongous chunk.''' `TorrentBroadcast`
  *    blockifies into chunks of `spark.broadcast.blockSize` (4 MB by
  *    default), allocated up front for every broadcast, and G1 treats any
  *    object of half a region or more as humongous (1 MB on a 4 GB heap
  *    with its 2 MB regions). With fork-free checkpoints alone, faster
  *    micro-batches made more of that garbage and cep-stream's peak RSS
  *    (4 GB heap) rose from about 4.3 to 4.6 GB; with 512 KB chunks it is
  *    about 3.8 GB. The chunk size is read from `SparkEnv`'s conf at each
  *    broadcast, so it is the one entry here that is SparkContext-wide: it
  *    reaches every session of the application, including sessions this
  *    engine did not build. */
object StreamingConf {
  val rocksDb: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true")

  /** The session entries that make `file:` checkpoint I/O fork-free.
    * `FileSystem.get` caches one instance per scheme and user whatever the
    * configuration names, and the JVM's stock `file:` instance exists
    * before any session, so the session skips that cache; each state
    * store keeps the instance it gets. */
  val checkpointFs: Map[String, String] = Map(
    "fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName,
    "fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  def applyTo(spark: SparkSession): Unit = {
    (rocksDb ++ checkpointFs).foreach { case (k, v) => spark.conf.set(k, v) }
    // under half a G1 region for 2 MB regions and up (heaps of 4 GB and more)
    SparkEnv.get.conf.set("spark.broadcast.blockSize", "512k")
  }
}
