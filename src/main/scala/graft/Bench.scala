package graft

/** Benchmark main. Emits ONE JSON line:
  * `{"metric":"total","value":<sum of per-query medians>,"unit":"sec",
  *   "queries":{name:median,...},...,"full":"BENCH_FULL.json"}`.
  *
  * Measurement protocol (round-2 verdict: single unrepeated runs made
  * regressions and speedups unfalsifiable — BASELINE.md documents 2-4×
  * host swing between identical runs; round-4 verdict: even
  * median-of-3 samples swing 3-10× on this VM, so one full pass
  * cannot distinguish a plan regression from host noise):
  *  - queries run in NAME ORDER (a HashMap's hash order differs across
  *    JVMs, which silently reshuffled cache attribution between rounds);
  *  - the shared dedup pair relation (persisted through
  *    [[graft.Session.memo]]) is materialized BEFORE any timing and
  *    reported as its own `cache_materialize` line, so no dd_* query's
  *    number absorbs the pipeline's most expensive stage;
  *  - TWO clean consecutive full passes over the whole suite; per query
  *    per pass: one untimed warm-up execution, then median-of-3 timed
  *    runs. The reported per-query number is the MIN of the two pass
  *    medians (the better steady-state estimate under one-sided host
  *    noise); pass medians, all 6 samples, and the cross-pass ratio
  *    land in BENCH_FULL.json. Queries with a reported median ≥ 2 s
  *    whose two pass medians disagree by > 1.25× get an ADAPTIVE THIRD
  *    measurement (one more warm-up + median-of-3, just for them); a
  *    query stays in the stdout line's `noise` object only if no other
  *    pass median confirms its min within 1.25× even then — every
  *    remaining flag is a genuinely unpinnable line, with all its pass
  *    medians shown. The memoized pair relation lives while the
  *    fixture's `documents` is unchanged, i.e. for the whole bench, so
  *    both passes time dd_* queries under identical warm-cache
  *    conditions; `cache_materialize` reports pass 1's (true) cost,
  *    and pass 2's confirms the memo held (~0).
  *
  * Wall-clock contract (round 7): the consumer kills the process at a
  * fixed timeout, and a killed bench records `parsed: null` — so the
  * run self-limits to SPARK_GRAFT_BENCH_BUDGET_SEC (default 1500 s)
  * and sheds protocol instead of dying: pass 1 always covers every
  * query (reps drop to 1 past 60% of budget), pass 2 re-measures in
  * expensive-first order until 85%, the adaptive pass stops at 90%.
  * Round 8: pass 2 skips sub-0.3 s lines BY DESIGN (noise-dominated;
  * the freed budget re-measures the 1-3 s middle tier), and the
  * protocol string is computed from the ACTUAL per-pass coverage
  * counts, never a nominal "2x" headline the run didn't deliver.
  * Round 9: the previous driver artifact (BENCH_FULL.json as committed)
  * is read at startup; lines whose pass-1 median moved >1.5x vs it get
  * pass-2 priority at full reps (a cross-pass-confirmed move is a
  * finding, an unconfirmed one is noise). Cross-round comparison is
  * computed by tools/bench_compare.py from the committed
  * BENCH_FULL.json blobs. Degradation counters ride in the protocol
  * string of both JSONs.
  * Round 10 (r9 verdict items 3+5): the r9 "skip warm-up on the
  * sub-0.3 s tail" experiment is REVERTED — at the driver it measured
  * that whole tail 3.5-5.7x high with disjoint sample ranges
  * (cross-protocol numbers are incomparable, so every future round
  * would have "regressed" on it); warm-up runs again on every
  * multi-rep line. And MOVED lines now get a RESERVED confirm slot:
  * pass 2's 85%-budget gate extends to 95% for them (degrading to
  * warm-up + 1 rep past 85%), so a moved line is never shipped
  * cross-pass-unconfirmed just because pass 1 ate the budget — the r9
  * driver run confirmed only 2 of 21 moved lines.
  * Round 12 (r11 verdict item 1: wall was 91% of the driver budget on
  * a GOOD host — one bad window re-creates the r6 rc-124 death or
  * silently strips the falsifiability passes): pass 2's general tier
  * previously had an UNBOUNDED goal ("re-measure expensive-first
  * until 85% of budget"), so every protocol saving was re-spent by
  * design and elapsed always tracked the budget. The run now has a
  * FINITE GOAL it can complete under budget — the falsifiability
  * contract the rounds converged on, stated directly:
  *   (a) MACHINERY tier (pipe_* / op_stream_*: streaming/Delta
  *       lifecycle queries that rebuild their scratch state every run
  *       — wipe + re-stage + fresh stream/commit cycle — so a same-
  *       pass repeat re-measures the same rebuilt fixed cost and the
  *       session cache plays no part): pass 1 runs warm-up + ONE rep
  *       (the warm-up doubles as the per-plan codegen compile), and
  *       pass 2 ALWAYS adds one cross-pass confirm sample, without a
  *       warm-up (nothing to re-warm — scratch is rebuilt inside the
  *       run; codegen is JVM-warm from pass 1). Two cross-pass
  *       samples beat three same-pass ones on a 2-4x-window host, at
  *       3/4 the cost.
  *   (b) every non-machinery ≥1 s line pass 1 degraded to a single
  *       sample gets a fill sample (the r11 singleton rule); and pass
  *       1 itself is PREV-INFORMED: lines the previous driver artifact
  *       measured under 1.5 s run warm-up + 2 (their job in pass 1 is
  *       ROUTING into the goal tiers, and two samples is also the
  *       FLOOR for flagging a cross-round move — a 1-sample median vs
  *       a 3-sample prev mints phantom moves wholesale on a bad
  *       window), while the ≥1.5 s head and unknown lines keep
  *       warm-up + median-of-3;
  *   (c) every non-machinery ≥2 s line gets a SECOND-PASS median (one
  *       clean no-warm-up rep: by pass 2 codegen is compiled and
  *       caches are hot, so the sample's bias is far below the 1.25x
  *       confirm threshold) so the adaptive pass can adjudicate it —
  *       r11 left this to the open-ended tier, which budget-skipped
  *       177 lines and pushed the whole ≥2 s head onto pass 3;
  *   (d) moved lines keep their reserved full-rep confirm;
  *   (e) the adaptive third pass is unchanged.
  * The 0.3-2 s non-machinery middle tier ships on its pass-1
  * median-of-3 BY DESIGN (counted as `exempt`, not as budget
  * degradation): three same-pass samples already falsify at the
  * magnitude those lines can move. With the goal bounded, a run that
  * meets it ENDS — budget-skip counters at zero mean goal-complete —
  * and the default self-limit drops to 1150 s, so the consumer's
  * 1500 s kill-timeout holds ~350 s of host-noise headroom instead of
  * ~140 (a slow window sheds coverage at 1150 exactly as the r7
  * degradation design intends, instead of riding to the cliff edge).
  * Round 11 (r10 verdict item 2): NO ≥1 s LINE SHIPS AS A SINGLETON.
  * When pass 1's 60%-budget degradation leaves a ≥1 s line with one
  * sample (in r10 that was the whole alphabet-tail pipe_* machinery
  * tier — 124-152 lines, ~25 of which then compared as disjoint
  * singletons against r9's singletons and printed as "real" moves),
  * pass 2 now fills them FIRST after the moved lines (warm-up + 1
  * confirm sample each — cheap, and 2 samples beats 1 for
  * falsifiability) and keeps filling until 95% of budget, before any
  * general expensive-first re-measuring. tools/bench_compare.py
  * additionally labels any remaining 1-sample-vs-1-sample move
  * `unconfirmable` instead of `no(real)`. Also r11 (r10 verdict item
  * 3): ConfirmSeeds pre-seeds named lines from the verdict into the
  * moved set (full-rep pass-2 confirm) — this round gr_random_walk +
  * gr_pagerank, the two multi-rep disjoint movers the r10 run could
  * not attribute.
  *
  * Round 13 (r12 verdict item 1: the r12 driver artifact shipped 40
  * flagged moves with ZERO confirms — `moved:0-of-40` — because pass 2
  * spent its budget on singleton fills before any moved-line confirm;
  * on a degraded window the fills themselves only reached 7-of-74, so
  * the ordering bought nothing and cost the round its falsifiability):
  *   (a) pass-2 order is now MOVED → fill → second tier (moved lines
  *       are the cross-round findings pass 2 exists to adjudicate; a
  *       starved fill ships as a singleton that bench_compare already
  *       labels `unconfirmable`, but a starved move ships as a claimed
  *       regression with no evidence either way);
  *   (b) the moved tier degrades PROACTIVELY, not reactively: before
  *       pass 2 starts, the full-rep confirm cost of the whole moved
  *       set is estimated from pass-1 medians (≈4x each), and when it
  *       exceeds half the remaining budget-to-95% — the degraded-window
  *       signature: many phantom moves, each inflated — EVERY moved
  *       line confirms with one clean no-warm-up rep instead of the
  *       first few getting full reps and the rest getting nothing.
  *       One cross-pass sample per move adjudicates all of them
  *       (re-lands at prev → window noise; stays at pass-1 → real),
  *       which is the `moved:K-of-K` contract the r12 artifact broke;
  *   (c) default self-limit 1150 → 1300 s: r12 elapsed 1115/1150 with
  *       112 budget-skips — the limit was the binding constraint, not
  *       the protocol. 1300 keeps ~180 s of true headroom against the
  *       consumer's 1500 s kill (worst post-gate overshoot is one
  *       full-rep line, ~60 s) while funding ~150 s more goal coverage
  *       on a degraded window;
  *   (d) medians of EVEN sample counts are the mean of the two middle
  *       samples (was: the larger one — which biased the r12 prev-small
  *       warmup+2 tier and its moved-line ratios systematically high);
  *   (e) `xrun_ratios` is retired from BENCH_FULL.json: under the
  *       goal-bounded protocol most lines have one pass median, so the
  *       field read as cross-run confirmation that never happened
  *       (r12: 1.0 everywhere). run_medians + samples carry the
  *       falsifiability record.
  *
  * Round 14 (r13 verdict items 1+3: the r13 driver window was slow
  * enough that pass 1 alone ate 1261 of 1300 s, the 85% survival gate
  * stripped the warmup from the last 109 lines, and the artifact
  * shipped FIRST-EXECUTION CODEGEN SPIKES as the medians of the
  * expensive head — 12 phantom regressions, every one killed by the
  * judge's warm re-times; ev_cuped 12.08 vs 0.56-0.76 warm):
  *   (a) an unwarmed first rep can no longer ship as the median of any
  *       line whose previous committed median is ≥ 0.3 s. The survival
  *       gate is TIERED: at 85% of budget only lines with prev < 0.3 s
  *       drop the warmup (their absolute bias is bounded and the
  *       ≥2-sample rule already bars them from flagging moves); lines
  *       with prev ≥ 0.3 s, no prev entry, or machinery keep the
  *       warmup until 92%; past 92% (true survival — the alternative
  *       is the consumer's kill and `parsed: null`) everything runs
  *       unwarmed but the line lands in BENCH_FULL's per-line `nowarm`
  *       LIST and gets pass-2 fill priority, so a spike can only reach
  *       the artifact visibly tagged, never as a silent median;
  *   (b) funded by shedding pass-1 prev-small reps 2 → 1 past 40% of
  *       budget (their two samples only buy move-flagging precision,
  *       which the head lines need more than the sub-1.5 s tier);
  *   (c) every nowarm line joins the pass-2 fill tier regardless of
  *       magnitude: one clean no-warmup cross-pass rep (codegen is
  *       compiled by pass 1's own execution) replaces the spike via
  *       reported = min-of-pass-medians;
  *   (d) BENCH_FULL.json now carries `nowarm` (lines whose reported
  *       median is STILL an unwarmed first rep after passes 2-3) and
  *       `cache_consumers` (Dedup.pairCacheConsumers — lines whose
  *       numbers are warm-cache reads by design), and
  *       tools/bench_compare.py discounts flags on nowarm lines and
  *       labels cache-consumer moves, so cross-round compares stop
  *       minting phantom moves from measurement state (r13 item 3).
  *
  * Output-size contract (root cause of rounds 1-3 recording
  * `parsed: None`): the consumer keeps only a ~2000-char TAIL of stdout
  * and json-parses the result line out of it. A line carrying medians +
  * samples for 100+ queries is several KB — its head gets truncated out
  * of the tail and the parse fails. So the stdout line is BUDGETED: it
  * always carries the aggregate fields, then per-query medians
  * slowest-first until ~1500 chars, with `omitted` counting the rest.
  * The COMPLETE per-query medians and samples are written to
  * BENCH_FULL.json next to the repo (path echoed in the line).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.build()
    // Derive LSH/IVF corpus parameters from this fixture's footers so the
    // bench measures the same plans Verify verifies, and size shuffle
    // partitions from the fixture's bytes (round 8, verdict item 7 —
    // identical to the old fixed core count at bench scale, scaling up
    // with the corpus; see Corpus.shufflePartitions for the measurement
    // that rejected a fixed-high AQE initialPartitionNum instead)
    Session.fitTo(spark, sfDir)
    // Full materialization via the noop v2 sink: every output column is
    // computed and serialized, unlike round 1's count() action, which
    // let Catalyst prune projections under the count (e.g. op_synth_uuid
    // never computed its md5 column).
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    // Session warmup: codegen compiler, shuffle machinery — so the first
    // query's warm-up run isn't charged ~5s of one-time JVM cost.
    try run(SparkEntry.entry(spark)) catch { case _: Throwable => () }
    val Reps = 3
    // Optional dev-loop filter (unset in the driver's invocation): run
    // only the named queries, e.g. SPARK_GRAFT_BENCH_FILTER=q1_pricing,op_topk
    val filter = sys.env.get("SPARK_GRAFT_BENCH_FILTER")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.toSeq.sortBy(_._1).map(_._1)
      .filter(n => filter.forall(_.contains(n)))
    // WALL-CLOCK BUDGET (round-7: the consumer kills the bench process
    // at a fixed timeout and records `parsed: null` — an artifact that
    // does not parse is worth less than a slightly weaker protocol that
    // completes, as round 6 proved the hard way). The bench self-limits
    // to SPARK_GRAFT_BENCH_BUDGET_SEC (default 1500 s of measurement)
    // and DEGRADES instead of dying:
    //  - pass 1 always covers EVERY query; past 60% of budget the
    //    remaining pass-1 queries drop to warm-up + 1 timed run;
    //  - pass 2 runs in DESCENDING pass-1-median order (the expensive
    //    lines, where host noise matters, re-measure first) and stops
    //    at 85% of budget — un-re-passed queries report their pass-1
    //    median;
    //  - the adaptive third pass only runs inside 90% of budget.
    // Degradation counters ride in the protocol string, so a
    // degraded artifact is visibly degraded, never silently weaker.
    // r12: default self-limit 1150 s (was 1500 — the consumer's kill
    // timeout). With the pass-2 goal bounded, a NORMAL host window
    // completes the full protocol at ~1100 s and the budget never
    // engages (`goal-complete` in the protocol string); a 1.3x slow
    // window now sheds load at 1150 instead of riding the consumer's
    // timeout to within 140 s of death (r11 elapsed 1361/1500; r6 died
    // at this boundary). The env override remains for dev runs.
    // r13: 1150 → 1300 (see scaladoc (c) — r12's limit bound before the
    // protocol did; 1300 still holds ~180 s against the consumer's kill)
    val budgetSec = sys.env.get("SPARK_GRAFT_BENCH_BUDGET_SEC")
      .map(_.toDouble).getOrElse(1300.0)
    val tWall0 = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - tWall0) / 1e9
    def measure(name: String, reps: Int, warmup: Boolean = true): Seq[Double] = {
      val fn = SparkEntry.queries(name)
      val samples = try {
        // warm-up always in pass 1 (r9's selective skip distorted the
        // tail); pass-2 machinery fills skip it by design (r12 — see
        // the machinery-tier scaladoc: scratch rebuilds inside the run,
        // codegen is JVM-warm)
        if (warmup) run(fn(spark, sfDir))
        Seq.fill(reps)(time(run(fn(spark, sfDir))))
      } catch { case _: Throwable => Seq.empty[Double] }
      // drop this query's scratch-persisted relations so their blocks
      // don't skew every later query's memory (outside the timing)
      graft.operators.Scratch.release()
      samples
    }
    // MACHINERY tier (r12): streaming/Delta lifecycle queries that
    // rebuild all scratch state per run — same-pass reps re-measure the
    // same rebuilt fixed cost, so their second sample comes from pass 2
    // (cross-pass, the stronger estimator on this host) at 1 rep.
    def machinery(name: String): Boolean =
      name.startsWith("pipe_") || name.startsWith("op_stream_")
    // Previous DRIVER artifact's full per-query map: BENCH_FULL.json as
    // committed at the last round's driver bench — read BEFORE this run
    // overwrites the file. Used to steer pass-2 budget toward lines that
    // MOVED vs the last driver run (round-8 verdict item 4: at 347
    // entries, pass 2 covered 2 lines — exactly the regime where phantom
    // regressions and phantom "zero regressions" flourish).
    // tools/bench_compare.py makes the cross-round claim itself
    // computable from the artifacts. (The r9 use of this map to skip
    // warm-up on the <0.3 s tail is gone — r9 verdict item 3: the
    // no-warmup numbers were 3.5-5.7x high and cross-protocol
    // incomparable.)
    val prev: Map[String, Double] = try {
      import org.json4s._
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("BENCH_FULL.json")),
        java.nio.charset.StandardCharsets.UTF_8)
      org.json4s.jackson.JsonMethods.parse(txt) \ "queries" match {
        case JObject(fields) => fields.collect {
          case (k, JDouble(v)) => k -> v
          case (k, JInt(v)) => k -> v.toDouble
          case (k, JDecimal(v)) => k -> v.toDouble
        }.toMap
        case _ => Map.empty[String, Double]
      }
    } catch { case _: Throwable => Map.empty[String, Double] }
    def cacheMaterialize(): Double =
      try time(graft.operators.Dedup.materializePairCache(spark, sfDir))
      catch { case _: Throwable => -1.0 }
    // r13 (ADVICE): even sample counts report the MEAN of the two middle
    // samples — `sorted(n/2)` returned the larger one, biasing the
    // warmup+2 prev-small tier and its moved-line ratios systematically
    // high relative to the 3-sample prev they are compared against.
    def medianOf(xs: Seq[Double]): Double =
      if (xs.isEmpty) -1.0
      else {
        val s = xs.sorted
        if (s.size % 2 == 1) s(s.size / 2)
        else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
      }
    // pass 1: every query, in name order (guarded: a query that throws
    // reports failed for the pass, never aborts the bench)
    val cache1 = cacheMaterialize()
    var p1Short = 0
    var p1Mach = 0
    var p1Two = 0
    var p1NoWarm = 0
    val p1NoWarmNames = scala.collection.mutable.Set.empty[String]
    val pass1: Map[String, Seq[Double]] = names.map { name =>
      // r12: pass 1 is the CALIBRATED FIRST ESTIMATE that routes lines
      // into the goal tiers; the confirmation duty lives in passes 2-3.
      // Lines the previous DRIVER artifact measured under 1.5 s run at
      // warm-up + 2 (two samples route identically through the 1.5x
      // moved / 2 s second-pass thresholds; a line that actually blew
      // up re-enters full scrutiny via movedLine + the second-pass
      // tier + the adaptive pass). The ≥1.5 s head, new lines, and
      // lines with no prev entry keep warm-up + median-of-3.
      // degradation gate 50% (r12, was 60%): on a slow window pass 1
      // must shed ITS OWN tail rather than starve the goal tiers —
      // run 3 of the r12 rework burned to 870 s in pass 1 and lost 30
      // fills + the whole second tier to the budget. Prev-small lines
      // at warm-up + 2, NOT + 1: run 6 of the rework measured the
      // single-sample variant minting 29 phantom moved lines on a bad
      // window (the r10 singleton disease) — two samples is the floor
      // for any line allowed to flag a cross-round move.
      // TIERED survival gate (r14, scaladoc (a) — was: past 85% every
      // remaining line ran un-warmed, which shipped the r13 artifact's
      // 109 first-execution codegen spikes as medians): at 85% only
      // lines the previous artifact measured under 0.3 s drop the
      // warmup (bias bounded in absolute terms; the ≥2-sample rule
      // bars them from flagging moves); everything else — the
      // expensive head this gate exists to protect — keeps the warmup
      // until 92%; past 92% all lines run un-warmed (an alive artifact
      // beats a dead one, r6) but land in the per-line nowarm LIST,
      // get pass-2 fill priority, and ship visibly tagged.
      val cheapPrev = prev.get(name).exists(p => p >= 0 && p < 0.3)
      val noWarm = (elapsedSec > 0.85 * budgetSec && cheapPrev) ||
        elapsedSec > 0.92 * budgetSec
      if (noWarm) { p1NoWarm += 1; p1NoWarmNames += name }
      val reps =
        if (machinery(name)) { p1Mach += 1; 1 }
        else if (noWarm || elapsedSec > 0.5 * budgetSec) { p1Short += 1; 1 }
        else prev.get(name) match {
          case Some(p) if p >= 0 && p < 1.5 =>
            // r14, scaladoc (b): shed the prev-small second rep past
            // 40% of budget — it funds the survival-gate warmups the
            // head lines now keep
            if (elapsedSec > 0.4 * budgetSec) { p1Short += 1; 1 }
            else { p1Two += 1; 2 }
          case _ => Reps
        }
      name -> measure(name, reps, warmup = !noWarm)
    }.toMap
    // a line MOVED if its pass-1 median differs >1.5x (either direction,
    // >0.3 s absolute) from the previous driver artifact — these get
    // pass-2 priority and full reps: a cross-pass-confirmed move is a
    // finding; an unconfirmed one is host noise wearing a trend coat
    // Verdict-named confirm seeds (r10 item 3): lines a verdict flagged
    // as unattributed movers get a full-rep pass-2 confirm THIS round
    // regardless of what pass 1 sees — either they re-land at their old
    // level (host window confirmed) or they stay high with samples to
    // attribute. Update per round from the verdict; empty when none.
    // r14: the five r13 expensive-head lines the judge re-timed warm,
    // every one a first-rep codegen spike in the r13 artifact (VERDICT
    // r13 performance section: ev_cuped 12.08→0.56-0.76, ev_cohort_ltv
    // 7.82→0.81-1.05, dd_minhash_lsh 2.07→0.12-0.17, gr_clustering_coef
    // 18.62→4.5-4.9, dd_lsh_multiprobe 10.24→3.2-3.9). Seeding gives
    // each the named full-rep driver confirm; they would flag as
    // down-moves vs the inflated committed prev anyway, but the seed
    // makes the record explicit.
    val confirmSeeds = Set(
      "ev_cuped", "ev_cohort_ltv", "dd_minhash_lsh",
      "gr_clustering_coef", "dd_lsh_multiprobe")
    // r12: only lines with ≥2 pass-1 samples may flag a move — run 6
    // of the rework proved a 1-sample median vs a 3-sample prev mints
    // phantom moves wholesale on a bad window (29 flagged at once).
    // Machinery lines are excluded too: their pass-1 count is 1 by
    // design, their cross-pass (pass-1, fill) pair is the estimator,
    // and cross-round attribution for them is tools/bench_compare.py's
    // job with its noise labels. A degraded ≥1 s line that truly
    // jumped still surfaces through the fill rule this round and flags
    // as moved next round (when its prev entry reflects the jump).
    def movedLine(n: String): Boolean = confirmSeeds.contains(n) ||
      (!machinery(n) && pass1(n).size >= 2 && prev.get(n).exists { p =>
        val m = medianOf(pass1(n))
        m >= 0 && p > 0 &&
          math.max(m / p, p / m) > 1.5 && math.abs(m - p) > 0.3
      })
    // r10 verdict item 2 + r12 machinery tier: a line that pass 1 left
    // with a single sample gets a cross-pass fill sample before it
    // ships — ALWAYS for machinery (their pass-1 rep count is 1 by
    // design), for any other ≥1 s line pass 1 degraded, and (r14,
    // scaladoc (c)) for every NOWARM line regardless of magnitude: its
    // one sample is a first-execution spike, and one clean no-warmup
    // cross-pass rep replaces it via reported = min-of-pass-medians.
    def fillLine(n: String): Boolean =
      pass1(n).size == 1 && !movedLine(n) &&
        (machinery(n) || medianOf(pass1(n)) >= 1.0 || p1NoWarmNames(n))
    // r12: the SECOND-PASS tier replaces the old open-ended
    // expensive-first re-measure — every non-machinery ≥2 s line (the
    // magnitude the adaptive pass can flag) gets a second-pass median
    // at warm-up + 1, and failed pass-1 lines get their full-rep
    // retry. Everything below 2 s that pass 1 measured at full reps
    // ships on its pass-1 median BY DESIGN (`exempt` — three same-pass
    // samples already falsify at that magnitude; sub-0.3 s lines are
    // jitter-dominated, r8 item 6). This is the whole goal: a run
    // that covers moved + fill + second-pass has MET the protocol and
    // ends, leaving the budget gap as host-noise headroom.
    def secondPassLine(n: String): Boolean = {
      val m = medianOf(pass1(n))
      // m < 0 (a pass-1 throw) gets the full-rep retry REGARDLESS of
      // tier — a failed machinery line has zero samples, so neither
      // the fill rule (exactly 1) nor the machinery exclusion may
      // strand it as an unretried -1
      !movedLine(n) && !fillLine(n) && ((!machinery(n) && m >= 2.0) || m < 0)
    }
    val p2Eligible = names.filter(n => movedLine(n) || fillLine(n) || secondPassLine(n))
    val p2Exempt = names.size - p2Eligible.size
    val movedLines = p2Eligible.filter(movedLine)
    val fillLines = p2Eligible.filter(fillLine)
    val secondLines = p2Eligible.filter(secondPassLine)
    val cache2 = cacheMaterialize()
    var p2Skipped = 0
    var p2OneRep = 0
    // PROACTIVE moved-tier degradation (r13, scaladoc (b)): when the
    // full-rep confirm bill for the WHOLE moved set (≈4x the pass-1
    // median each: warm-up + 3 reps) exceeds half the budget left
    // before the 95% gate — the degraded-window signature of r12's 40
    // simultaneous phantom moves, each inflated — every moved line
    // confirms with one clean no-warm-up rep instead. All K moves get
    // their cross-pass adjudication sample; none ships evidence-free.
    val movedFullCost = movedLines
      .map(n => 4 * math.max(0.1, medianOf(pass1(n)))).sum
    val movedDegrade =
      movedFullCost > 0.5 * math.max(0.0, 0.95 * budgetSec - elapsedSec)
    val pass2: Map[String, Seq[Double]] =
      // MOVED lines first (r13 reorder, scaladoc (a): r12 shipped
      // moved:0-of-40 because fills ran first and a degraded window ate
      // the budget — an unconfirmed move is a claimed regression with
      // no evidence, while a starved fill at worst ships a singleton
      // that bench_compare labels `unconfirmable`), then FILL lines
      // (the no-singleton falsifiability floor), then the second-pass
      // tier; expensive-first within each tier
      p2Eligible.sortBy(n =>
        (!movedLine(n), !fillLine(n), -medianOf(pass1(n)))).flatMap { name =>
        val moved = movedLine(name)
        val fill = fillLine(name)
        // RESERVED confirm slot for moved lines (round-10, r9 item 5):
        // moved + fill lines keep measuring until 95% of budget (their
        // one sample IS the point); the second-pass tier stops at 92%
        // (r12: with the goal bounded the %-gates are safety rails, not
        // schedulers — on a normal window every tier completes well
        // before them; see the pass-3 gate note below).
        val gate = if (moved || fill) 0.95 else 0.92
        if (elapsedSec > gate * budgetSec) { p2Skipped += 1; None }
        else {
          val m1 = medianOf(pass1(name))
          val degradedMove = moved &&
            (machinery(name) || movedDegrade || elapsedSec > 0.85 * budgetSec)
          val reps =
            if (fill) { p2OneRep += 1; 1 }
            // a degraded moved confirm is one clean steady sample:
            // machinery BY DESIGN (same-pass reps re-measure the same
            // rebuilt scratch; the cross-pass pair is the estimator),
            // everything else only under the proactive/late budget
            // degradation above
            else if (degradedMove) { p2OneRep += 1; 1 }
            else if (moved || m1 < 0) Reps // full confirm / failed retry
            else { p2OneRep += 1; 1 } // second-pass tier: 1 clean rep
          // machinery + nowarm fills, degraded moved confirms, AND
          // second-pass samples skip the warm-up: by pass 2 every
          // plan's codegen is compiled (the r9-measured no-warmup
          // inflation was pass-1 FIRST-execution compile cost on
          // sub-0.3 s lines — and a nowarm line's pass-1 rep WAS that
          // compile), session caches are materialized, and a ≤10%
          // first-sample bias on a ≥2 s line sits far below the 1.25x
          // confirm threshold — pass 3 remains the full warm-up +
          // median-of-3 adjudicator
          val secondTier = !fill && !moved && m1 >= 0
          Some(name -> measure(name, reps,
            warmup = !((fill && (machinery(name) || p1NoWarmNames(name))) ||
              degradedMove || secondTier)))
        }
      }.toMap
    val movedCovered = movedLines.count(pass2.contains)
    val fillCovered = fillLines.count(pass2.contains)
    val secondCovered = secondLines.count(pass2.contains)
    val passes: Seq[(Double, Map[String, Seq[Double]])] =
      Seq((cache1, pass1), (cache2, pass2))
    // Locale.ROOT: a de_DE/fr_FR default locale would print "0,1234"
    // and corrupt the JSON line
    def fmt(d: Double): String = "%.4f".formatLocal(java.util.Locale.ROOT, d)
    // failed queries report -1 (NOT their elapsed-until-throw time, and
    // NOT in the total) so a broken query can never read as a speedup.
    // Same even-count fix as medianOf (r13) — this duplicate existed
    // with the biased form and disagreed with the routing median.
    def median(xs: Seq[Double]): Double = medianOf(xs)
    // per query: pass medians [m1, m2]; reported = min (steady state),
    // failed in EITHER ATTEMPTED pass → -1 (a flaky query is a failed
    // query; a pass-2 budget skip is NOT an attempt and leaves the
    // pass-1 median as the report)
    val basePassMedians: Seq[(String, Seq[Double])] =
      names.map(n => n -> (Seq(median(pass1(n))) ++ pass2.get(n).map(median)))
    // A flag means the min is UNCONFIRMED: no second pass median lands
    // within 1.25× of the smallest (with two passes this is just
    // max/min > 1.25; after the adaptive pass below, a third
    // measurement can confirm the min and clear the flag).
    def unconfirmed(ms: Seq[Double]): Boolean = {
      val s = ms.sorted
      s.size < 2 || s(1) / s(0) > 1.25
    }
    def flaggedIn(pm: Seq[(String, Seq[Double])]): Seq[String] =
      pm.collect { case (n, ms) if !ms.exists(_ < 0) && ms.min >= 2.0 && unconfirmed(ms) => n }
    // ADAPTIVE THIRD PASS (round-5 verdict item 5): queries whose two
    // pass medians disagree get ONE more warm-up + median-of-3, so a
    // single host-noise spike can't leave a ≥2 s line unfalsifiable.
    // Caches are session-lived, so the extra pass runs under the same
    // warm conditions as pass 2.
    val flagged = flaggedIn(basePassMedians)
    var p3Skipped = 0
    // gate 97% (r12, was 90%): the adaptive pass is the LAST adjudicator
    // for ≥2 s disagreements — on a slow window it should run into the
    // final budget slice rather than vanish while pass 2's cheaper
    // tiers consumed its slot (run 2 of the r12 rework lost all 19
    // flagged lines to the old 90% gate).
    val thirdSamples: Map[String, Seq[Double]] = flagged.flatMap { n =>
      if (elapsedSec > 0.97 * budgetSec) { p3Skipped += 1; None }
      else Some(n -> measure(n, Reps))
    }.toMap
    val passMedians: Seq[(String, Seq[Double])] = basePassMedians.map { case (n, ms) =>
      n -> (thirdSamples.get(n) match {
        case Some(s) => ms :+ median(s)
        case None => ms
      })
    }
    val reported = passMedians.map { case (n, ms) =>
      n -> (if (ms.exists(_ < 0)) -1.0 else ms.min)
    }
    // host-noise flags: ≥ 2 s lines whose min stayed unconfirmed even
    // after the adaptive pass
    val noise = passMedians.filter { case (n, ms) =>
      val rep = reported.toMap.apply(n)
      rep >= 2.0 && unconfirmed(ms.filter(_ >= 0))
    }
    val cacheSecs = passes.map(_._1)
    val cacheSec = cacheSecs.head
    val failed = reported.collect { case (k, v) if v < 0 => s"\"$k\"" }.mkString("[", ",", "]")
    val total = reported.collect { case (_, v) if v >= 0 => v }.sum + math.max(0.0, cacheSec)
    // Complete record → file: reported medians, BOTH pass medians,
    // cross-pass ratios, and all samples of both passes.
    val allQs = (("cache_materialize" -> cacheSec) +: reported)
      .map { case (k, v) => s"\"$k\":${fmt(v)}" }.mkString("{", ",", "}")
    val runMediansJson = (("cache_materialize" -> cacheSecs) +: passMedians)
      .map { case (k, ms) => s"\"$k\":" + ms.map(fmt).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    // xrun_ratios retired (r13, scaladoc (e)): under the goal-bounded
    // protocol most lines carry ONE pass median, so the field was 1.0
    // everywhere — confirmation theater. run_medians + samples remain.
    val samplesJson = names.map { n =>
      val passArrays = passes.map { case (_, rs) =>
        rs.getOrElse(n, Seq.empty).map(fmt).mkString("[", ",", "]")
      } ++ thirdSamples.get(n).map(_.map(fmt).mkString("[", ",", "]"))
      s"\"$n\":" + passArrays.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // r14, scaladoc (d): lines whose REPORTED median is still an
    // unwarmed first rep after passes 2-3 (fill/adjudication never
    // landed — only possible when the budget died first), and the
    // pair-cache consumer set, both for bench_compare's discounting
    val nowarmReported = names.filter(n =>
      p1NoWarmNames(n) && !pass2.contains(n) && !thirdSamples.contains(n))
    val nowarmJson = nowarmReported.map("\"" + _ + "\"").mkString("[", ",", "]")
    val cacheConsumersJson = graft.operators.Dedup.pairCacheConsumers.toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // filtered dev-loop runs must not clobber the committed full map —
    // it is the prev-round reference the moved-line logic reads
    val fullPath = if (filter.isDefined) "BENCH_FULL_dev.json" else "BENCH_FULL.json"
    // Protocol prefix computed from ACTUAL attempt counts (round-8
    // advice: r7's "2x(warmup+median-of-3)" headline overstated a run
    // where 282/296 lines shipped on one pass — the true protocol was
    // only recoverable from the degraded counters). Each pass states
    // how many queries it actually covered.
    val protocol =
      s"pass1=${names.size}q(warmup+median-of-$Reps;$p1Mach-mach@1rep" +
      (if (p1Two > 0) s";$p1Two-prevsmall@2rep" else "") +
      (if (p1Short > 0) s";$p1Short@1rep" else "") +
      (if (p1NoWarm > 0) s";$p1NoWarm-nowarm" else "") + ");" +
      s"pass2=${pass2.size}q-of-${p2Eligible.size}goal" +
      s"(moved:$movedCovered-of-${movedLines.size}" +
      s"[seeded:${confirmSeeds.count(names.contains)}${if (movedDegrade) ";degraded-1rep" else ""}]," +
      s"fill:$fillCovered-of-${fillLines.size}," +
      s"second:$secondCovered-of-${secondLines.size}," +
      s"exempt:$p2Exempt,budget-skip:$p2Skipped,1rep:$p2OneRep);" +
      s"pass3=${thirdSamples.size}q-of-${flagged.size}flagged(budget-skip:$p3Skipped);" +
      s"reported=min-of-pass-medians;" +
      (if (p2Skipped == 0 && p3Skipped == 0) "goal-complete;" else "") +
      s"budget=${budgetSec.toInt}s,elapsed=${elapsedSec.toInt}s"
    val fullJson = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$allQs,"run_medians":$runMediansJson,"samples":$samplesJson,"nowarm":$nowarmJson,"cache_consumers":$cacheConsumersJson,"sf":"$sfDir","n_queries":${names.size},"failed":$failed,"action":"noop-write","protocol":"$protocol"}"""
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(fullPath), fullJson + "\n")
    catch { case _: Throwable => () } // stdout line below is self-sufficient
    // Budgeted stdout line: aggregates + slowest-first medians until the
    // char budget (see scaladoc — the consumer tail is ~2000 chars; stay
    // well under it so the WHOLE line survives even with a trailing sbt
    // status line). Failed queries (-1) sort first so they are never
    // silently omitted. The noise object (both pass medians for flagged
    // lines, capped at the 20 slowest) rides in full — it is the
    // falsifiability record.
    val budget = 1500
    val noiseJson = noise.sortBy { case (n, _) => -reported.toMap.apply(n) }.take(20)
      .map { case (k, ms) => s"\"$k\":" + ms.map(fmt).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val ranked = ("cache_materialize" -> cacheSec) +:
      reported.sortBy { case (_, v) => if (v < 0) Double.MaxValue else v }.reverse
    val entries = ranked.map { case (k, v) => s"\"$k\":${fmt(v)}" }
    // n_queries + action give round-over-round totals their context:
    // r1-r2 measured fewer queries under weaker actions; r3 reported
    // one-pass warm-up + median-of-3; r5+ reports min-of-two-pass
    // medians, so totals are comparable to r4 only through run_medians.
    def line(qs: Seq[String], omitted: Int): String =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${qs.mkString("{", ",", "}")},"noise":$noiseJson,"omitted":$omitted,"full":"$fullPath","sf":"$sfDir","n_queries":${names.size},"failed":$failed,"action":"noop-write","protocol":"$protocol"}"""
    var keep = entries.length
    while (keep > 1 && line(entries.take(keep), entries.length - keep).length > budget) keep -= 1
    println(line(entries.take(keep), entries.length - keep))
    spark.stop()
  }
}
