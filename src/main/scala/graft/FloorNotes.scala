package graft

/** Floor-attribution notes for the scaled DuckDB tiers: a query whose
  * scaled ratio sits above 2x DuckDB carries its measured reason in the
  * record, with the alternatives tried and rejected. Keyed by full query
  * name, so a new query never inherits another's note; a >2x row with
  * no note here self-attributes in [[BenchHarness.scaledProofAt]] or is
  * stamped floor_note_missing. */
object FloorNotes {
  private val TwoMovementNote: String =
    "two-movement kernel floor (the q_a2 shape): exchange(user_id)+" +
    "sort feeds an O(1)-state ring kernel (the kernel itself prices " +
    "at ~4-6% of exec per the q_a2 AND q_w1 decompositions - two " +
    "same-shape queries measured independently, r16/r17), then the " +
    "total-order output sort of the FULL row count is the second " +
    "movement. " +
    "Sub-second absolute, tier-decaying ratio vs a single-process " +
    "DuckDB; both movements are irreducible for a total-ordered " +
    "full-column output."
  private val StringPassNote: String =
    "near-floor string pass: exec is the bounded documents scan plus " +
    "one codegen'd byte/string pass riding it (no shuffle beyond the " +
    "output sort); floor_ratio ~0.6-1.3 = at or below ~1.3 bare scans " +
    "of total cost against a DuckDB side that is near-instant on " +
    "small strings - fixed stage latency, not plan fat."
  private val W1OwnNote: String =
    "two-movement kernel floor with ITS OWN r17 decomposition " +
    "(runMain graft.Probe <sf>@x5 decomp, noop sink, best-of-3): bare " +
    "4-column scan 0.095s, +exchange(user_id)+sort 0.245s, +SMA ring " +
    "kernel 0.275s (the kernel adds ~6% of exec), +projection 0.284s, " +
    "+output total order 0.545s. The total order is ~48% of exec; " +
    "measured-and-rejected: (a) localCheckpoint before the orderBy so " +
    "RangePartitioning's bound-sampling reads blocks instead of " +
    "re-executing the kernel stage - 0.528s vs 0.565s same-run (~7%), " +
    "not worth pinning the full output in the storage pool per call; " +
    "(b) one-task output sort - the q_a2 measurement, anti-pattern at " +
    "scale for a full-row-count output. Since r17 the kernel input is " +
    "pre-projected to 4 fixed-width columns (Tables.eventsSeries) so " +
    "the series exchange carries no string columns. Both movements " +
    "are irreducible for a total-ordered full-column output; " +
    "sub-second absolute, tier-decaying ratio. CLOSED r19 (third " +
    "measurement): the RangePartitioning sample-pass re-execution of " +
    "the kernel stage was re-adjudicated once more per VERDICT r18 " +
    "next #2 - same-run Decomp x5/x10: orderBy 1.005/0.993s vs " +
    "checkpoint-before-orderBy 0.805/1.075s and one-task sort " +
    "0.893(g2)/1.063s - the alternatives trade ~inside noise at x5 " +
    "and LOSE at x10, three rounds running; deterministic range " +
    "bounds cannot be expressed over a DataFrame child without an " +
    "RDD-level partitioner whose Java-serialized row shuffle forfeits " +
    "Tungsten. The sample pass is priced into this floor permanently."
  private val E2OwnNote: String =
    "steady shape is 1.4-1.9 bare-scan floors across five " +
    "independent samples (r16 x5 1.83 floors, r16 x10 1.47, r17 x10 " +
    "1.70, r17 driver re-run x5 1.60 with ratio 1.07, r17 driver " +
    "re-run x10 1.37); the r17 record's x5 0.794s (2.44 floors, " +
    "ratio 2.31) was a tail sample on an UNCHANGED binary - the same " +
    "round's driver re-run measured 0.446s on the identical commit. " +
    "r18 re-registered the strip-first/narrow-exchange shape after " +
    "a three-way same-run Decomp comparison at x5 AND x50: content " +
    "strips pre-window (the fingerprint needs it) but text and " +
    "title_desc never cross the exchange (title re-derives from a " +
    "30-char head column on the N survivors), and scoring runs " +
    "post-dedup - less shuffle AND less compute than the r17 wide " +
    "shape (x50: 1.44/1.64s vs wide 2.24/1.75s), and it beats the " +
    "pure scalar-first variant which pays stats on the 1.33N " +
    "pre-dedup rows (1.76/2.19s at x50). Both rejected variants " +
    "stay in Decomp as e2_wide_exchange_R17/e2_scalar_first_ALT. " +
    "Remaining cost = bounded scan + one strip pass + ONE " +
    "one-string exchange + survivor scoring + output total order."
  private val D5OwnNote: String =
    "exec here is a RESIDUAL, not the query: the connected-components " +
    "loop runs eager localCheckpoints at DataFrame-construction time " +
    "and is billed to planning, so spark_exec_sec times only the " +
    "final label-join + 75-row output sort over already-checkpointed " +
    "blocks. The r16->r17 exec step 0.044->0.242s (flagged in VERDICT " +
    "r17 what's-wrong #4) is one-to-two stage-latency quanta of " +
    "residual, decided by whether the ScratchCache'd signature table " +
    "and checkpoint blocks were still pool-resident when the timed " +
    "pass ran - the stable total is spark_fresh_sec, which moved " +
    "only 1.066->1.211s (+14%, within tier noise). Neither record " +
    "lied; the honest number for q_d5 is fresh, not exec."
  private val G2OwnNote: String =
    "since r17 the registered plan is the FULLY FUSED shape " +
    "(VERDICT r16 next #1): bands AND the lag-1 crossover algebra run " +
    "in ONE sorted mapPartitions pass (BollingerCrossKernel - the E3 " +
    "kernel), eliminating the second exchange + sort + WindowExec " +
    "pair that the post-kernel crossover lags forced over the opaque " +
    "mapPartitions output. Same-run x5 comparison (runMain " +
    "graft.Probe <sf>@x5 decomp, noop sink, best-of-3): fused 0.540s vs windowed " +
    "0.667s; parity pinned in DecFrameParitySpec, same oracle. Its " +
    "own x5 decomposition now matches q_w1_sma's shape bit-for-bit: " +
    "scan 0.095s, +exchange+sort 0.245s, +fused kernel 0.273s, " +
    "+output total order 0.540s - the extra ~1.1-floor gap vs q_w1 " +
    "that r16 flagged is GONE (0.540 vs 0.545 same-run). Remaining " +
    "cost = the two irreducible total movements of the q_w1/q_a2 " +
    "family; kernel itself ~6% of exec. r18 closure (VERDICT r17 " +
    "next #3, the last ~9% at x5): both named output-sort " +
    "alternatives measured with q_g2's OWN numbers, same-run Decomp " +
    "best-of-3 x4 reps - (a) one-task repartition(1)+" +
    "sortWithinPartitions wins ~15-25% at x5 (0.67-0.82s vs " +
    "0.82-1.11s) but LOSES at x10 (0.97-1.15s vs 0.89-1.04s): a " +
    "single-task sort of the FULL row count inverts with scale " +
    "exactly as the q_a2 adjudication predicted, rejected - q_e3's " +
    "precedent does not transfer because q_e3 sorts a tiny filtered " +
    "signal set while q_g2 outputs every input row; (b) " +
    "localCheckpoint-before-orderBy is a no-win here as for q_w1 " +
    "(0.85-0.92s vs 0.82-0.91s same-run). The x5 letter-gap is " +
    "therefore priced and closed: two irreducible total movements, " +
    "range-sort kept for scale."
  val notes: Map[String, String] = Map(
    "q_w1_sma" -> W1OwnNote,
    "q_g2_bbands_signal" -> G2OwnNote,
    "q_e2_news_pipeline" -> E2OwnNote,
    "q_d5_dup_clusters" -> D5OwnNote,
    "q_e3_signal_overlay" -> ("the r15 'residual' was the orderBy " +
      "itself: RangePartitioning's bound-sampling pass re-executed " +
      "the whole post-shuffle stage (agg+kernel+filter) once more " +
      "just to sample a few hundred signal rows. Since r16 the total " +
      "order is repartition(1)+sortWithinPartitions over the tiny " +
      "filtered signal set (NOT the q_a2 anti-pattern - there the " +
      "output is every input row). Measured at x5 (noop sink, " +
      "best-of-3): orderBy 0.883s vs one-task sort 0.495s. Fresh x5 " +
      "decomposition: bounded scan 0.102s, +repartition(user_id) " +
      "0.150s, +bar agg 0.082s, +fused Bollinger+crossover kernel " +
      "0.172s, +signal filter/projection 0.035s, +one-task sort of " +
      "the tiny result ~0.05s. Plan: PushedFilter bounded scan -> " +
      "ONE 4-column data exchange -> fused agg+kernel (no Window " +
      "operator) -> single-task result sort. Still standing from " +
      "r15: map-side partial bar agg rejected (bars~=rows on this " +
      "corpus, doubles shuffled bytes); AQE-off rejected " +
      "(session-wide conf mutation in a library query). At " +
      "production scale the serving answer is the X2 incremental " +
      "tick (maintained bars), not a faster cold recompute."),
    "q_a2_median_fill" -> ("the 5-row median kernel is NOT the cost: x5 " +
      "decomposition shows exchange+sort(user_id,ts) 0.458s, +median " +
      "ring kernel 0.019s (4% of exec), +final total-order " +
      "sort(event_id) of all 500k output rows 0.39s. " +
      "Measured-and-rejected: (a) lag(0..4)+median-of-5 window " +
      "expression (the sort-5 codegen route) - 1.081s vs 0.896s, " +
      "WindowExec+per-row array loses to the ring kernel; (b) " +
      "repartition(1)+sortWithinPartitions for the output order - " +
      "0.864s vs 0.965s, ~10% once, but a single-task global sort is " +
      "an anti-pattern at scale, rejected. Cost = two irreducible " +
      "total data movements (frame partitioning + output total " +
      "order) that DuckDB also executes but with single-process " +
      "constants; ratio decays with tier (x10 1.38x)."),
    "q_j3_range_count" -> ("since r16 the registered plan is the FUSED " +
      "one-source shape (VERDICT r15 next #1): one bounded scan of " +
      "both event types -> ONE exchange(user_id)+sort(ts_us) -> " +
      "native range-frame window count -> output total order. x5 " +
      "decomposition (noop sink, best-of-3): scan 0.244s, " +
      "+exchange+sort 0.254s, +window compute 0.067s, +output total " +
      "order 0.194s - movement-bound, the window aggregate itself is " +
      "~9% of exec, so a ring kernel was measured-and-rejected as " +
      "no-win. Same-run comparison vs the general two-scan interval " +
      "join (kept as q_j3b): 0.660s vs 0.899s exec - the fusion " +
      "halves the data movements as priced. Remaining cost = scan + " +
      "two irreducible total movements that DuckDB executes with " +
      "single-process constants; sub-second absolute."),
    "q_j3b_range_join_general" -> ("the GENERAL bounded-fan-out " +
      "interval join (scan x2 -> bucketed pair shuffle -> re-agg " +
      "exchange -> total-order), kept registered because it is the " +
      "operator a user reaches for when the two sides are DIFFERENT " +
      "tables and no window fusion applies. For the one-source " +
      "trailing-count semantics the fused q_j3_range_count shape is " +
      "the serving answer (0.660s vs 0.899s exec, same run); this " +
      "entry prices the generality tax. floor_ratio ~1.9, sub-second " +
      "absolute, tier-decaying."),
    "q_j1b_star_join" -> ("near-floor read path (floor_ratio ~1.0 at " +
      "x5, ~1.3 at x10): the fact side never shuffles - exec is the " +
      "bare fact scan + the broadcast (o_orderkey -> r_name) " +
      "LongDomainMap lookup projection + a 5-group hash agg riding " +
      "the scan. The >2x ratio is Spark's fixed per-job cost against " +
      "a single-process DuckDB join on a small dim-joined output, " +
      "not plan fat; the residual over the bare scan is the lookup " +
      "projection itself."),
    "q_j2_asof_join" -> ("one-source fused asof: ONE pushed-filter " +
      "scan discriminating both sides + the window exchange + the " +
      "output total order — no join operator at all (AsofJoinSpec " +
      "pins the 1-scan/1-exchange plan). Quiet floor_ratio ~1.3; a " +
      ">2x sample at a tier is stage-latency spread under residual " +
      "load, not plan fat (the steal-0 x10 tier sits near 2x with " +
      "the same sub-1.5 floor_ratio)."),
    "q_t1_html_strip" -> StringPassNote,
    "q_t1b_html_parser_strip" -> StringPassNote,
    "q_t10_pii_redact" -> StringPassNote) ++
    // the whole two-movement ring-kernel family shares q_a2's shape
    // and therefore its attribution — stamped per name so every >2x
    // sample in any tier self-explains (VERDICT r15 next #3)
    Seq("q_w2_gaussian", "q_w3_savgol", "q_w5_lag",
      "q_w6_bbands", "q_w7_rank_suite", "q_g1_rsi_signal",
      "q_g3_macd_signal", "q_g4_ppo_signal",
      "q_g5_adx_signal").map(_ -> TwoMovementNote)
}
