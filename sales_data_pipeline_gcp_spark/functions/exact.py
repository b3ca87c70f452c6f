"""Cross-engine-exact aggregate helpers.

Problem (SURVEY.md §7 hard-part #1): ``SUM(double)`` is order-dependent —
Spark's partial aggregation over 32 partitions and DuckDB's single-threaded
sum add in different orders, so the last few bits of the result differ and an
exact value-hash comparison fails.

Fix: accumulate exactly. Cast each row's (deterministic, IEEE-identical)
double value to a wide decimal, sum the decimals (exact, associative —
order-independent), and cast the final total back to DOUBLE. Both engines
then produce the *same* 64-bit float no matter how the sum was parallelized.

The double->decimal rounding at scale ``s`` is unambiguous whenever BOTH
hold (the second condition found by round-9 differential fuzzing,
tests/test_differential_fuzz.py):

1. the underlying exact value has fewer than ``s`` decimal digits (true
   for all fixture money/quantity columns and their 2-3-factor
   products), AND
2. the double is precise enough to pin the scale-``s`` digit:
   ``ulp(v) < 10^-s``, i.e. conservatively ``|v| < 2^52 * 10^-s``.
   The engines round DIFFERENT readings of the same double — Spark
   rounds its SHORTEST decimal repr (BigDecimal.valueOf, i.e.
   Double.toString), DuckDB rounds the EXACT binary expansion — and
   once one double ulp spans a whole decimal quantum the two readings
   can disagree by one decimal ulp. Fuzzed counterexample at scale 6:
   -8995004040.86 (a cents-exact value, ulp ~1.9e-6) casts to
   ...860000 in Spark (shortest repr '-8995004040.86') but ...860001
   in DuckDB (exact expansion ...8600006103515625); pinned by
   test_cast_domain_boundary.

Per-scale input-domain audit (bound 2^52 * 10^-s; per-VALUE magnitudes,
which unlike sums do NOT grow with SF except where noted):
  s=2  -> 4.5e13  money columns <= ~1e6: margin ~3e7
  s=0  -> 4.5e15  cents-unit moment cubes <= ~1.2e15: margin 3.9x,
                  STATIC in SF (value ranges are generator-fixed)
  s=4  -> 4.5e11  revenue products <= ~1e6: margin ~4.5e5
  s=6  -> 4.5e9   row-level money <= ~1e6: margin ~4.5e3
  s=12 -> 4.5e3   q_chisq_independence contribs: 30.9 at sf1 but they
                  GROW ~linearly in SF (fixed effect size x more rows)
                  — breach near ~sf150; if the deployment ever runs two
                  more data decades, migrate chi2 to scale 6 (costs
                  quantization granularity, buys 6 orders of domain;
                  needs a window slot — oracle text changes).

The FINAL decimal->double conversion goes through a STRING on both sides
(``CAST(CAST(sum AS VARCHAR) AS DOUBLE)``), not a direct cast. A direct
cast is only cross-engine-identical while ``sum * 10^s < 2^53``: beyond
that, DuckDB's int128->double pre-rounding before the 10^s division can
differ from Spark's correctly-rounded BigDecimal conversion by 1 ulp —
round-8 sf1 parity caught exactly this on q_agg_group's sum_charge
(sum ~2.8e10 at scale 6 -> scaled integer 2.8e16 > 2^53; Spark
...941590 -> 0x...430, DuckDB -> 0x...431). The string route is exact at
ANY magnitude and ANY scale: each engine's decimal->string is an EXACT
representation of the (cross-engine-identical) decimal sum — Spark via
BigDecimal.toString (plain notation for scale <= 6 values >= 1e-7,
scientific below; both exact), DuckDB always plain — and each engine's
string->double is correctly rounded (Double.parseDouble / fast_float).
The two strings need not be format-identical across engines; they each
denote the same exact value, so the correctly-rounded doubles are
bit-identical. Measured identical on the 2.8e16-scaled sf1 sums (scale 6)
and the round-9 chi-square migration (scale 12). Pick the scale SMALL
enough that per-row values quantize unambiguously; the sum's magnitude
and the string's notation no longer matter.

This only converts the few FINAL per-group values (post-aggregation), so
the string round-trip costs nothing in the hot path.

DIRECT-CAST MIGRATION LEDGER — direct-cast sites still outstanding. An
oracle text change needs a driver-window slot, and gets one by rule:
``registry.driver_window()`` ranks every query whose oracle hash differs
from ORACLE_HASHES.json first, and that snapshot is refreshed when a
round's CORRECTNESS record is committed, not when the slot is granted.
Magnitudes audited at sf1, 2^53 boundary = 9.0e15 on the scaled integer:

1. The ``sql_sum_direct`` shim sites (this module): 9 of 9 MIGRATED,
   CLOSED — 5 in round 9 (q_agg_rollup, q_agg_grouping_sets,
   q_agg_salted on slots; q_join_full, q_window_share riding their
   refresh slots), 3 in round 10 on the planned slots (q_join_salted —
   its r9 slot was ceded to the q_acf int64 overflow fix — q_join_outer,
   q_tpch_q3_shipping), and q_join_right on its planned round-11 slot
   (same safe magnitude class as its q_join_outer mirror; <= ~3.5e12
   scaled at sf1, a uniformity cleanup). The ``sql_sum_direct`` /
   ``sql_avg_direct`` shims were DELETED from this module in the
   q_join_right commit — every oracle sum is now string-routed
   ``sql_sum``/``sql_avg``.
2. Inline ``CAST(SUM(CAST(.. AS DECIMAL)) AS DOUBLE)`` with sf1-scale
   headroom < 2 orders — priority (the WHOLE 39-query DIRECT_CAST_LEGACY
   ratchet set was empirically parity-tested at sf1; results committed in
   PARITY_SF1.json "legacy_direct_cast" — 36/37 hash-green, one
   divergent):
   - distribution.py q_bollinger_bands — MEASURED DIVERGENT (6/2399
     rows at sf1 and 23/2399 at sf0.1, last 2-3 digits of sd/bands): the
     7-day window sums of squared daily cents reach ~6e20 at sf0.1
     already (far past 2^53; DuckDB's int128->double upper/lower
     composition vs Spark's conversion differ by 1 ulp) and the
     sum-of-squares cancellation (sxx - sx^2/n) amplifies the ulp into
     the visible digits. MIGRATED IN ROUND 8 (string-routed, window slot
     taken from q_graph_khop's re-queue after the sf0.1 round gate
     failed; hash-green at sf0.01/sf0.1/sf1 post-fix). Note: the q_agg_stats in-oracle comment claiming
     scale-0 decimal->double is "a SINGLE rounding in both engines even
     beyond 2^53" is now known WRONG in general (q_agg_stats happens to
     agree at sf1's values; bollinger does not) — the comment lives
     inside oracle text, so correcting it rides the same migration
     commit that re-queues the query.
   - stats.py scale-0 cents-unit moment sums (q_agg_stats,
     q_ols_regression): sxy/sxx/syy reach ~4.5e16 scaled at sf1 — past
     the boundary, previously green only by measured int->double
     agreement. MIGRATED IN ROUND 9 (string-routed both sides with
     window slots); the family stays in the sf1 parity set as a
     regression check.
   - stats.py chi2 (scale 12): contrib sum ~1e4 x 1e12 = 1e16 — past
     the boundary at sf1; same scale-s division class as sum_charge.
     MIGRATED IN ROUND 9 (string-routed; first scale-12 string route —
     exactness per the any-scale argument above, verified at
     sf0.01/sf0.1/sf1).
   - components.py:261 pagerank contribution sums (scale 12): per-node
     in-degree-bounded (~1e14) — SAFE, and empirically hash-green at sf1
     (PARITY_SF1.json); no action needed.
   - relational2.py q_window_range (scale 2, inline-OVER range frames —
     surfaced by the round-9 ratchet-regex widening): per-customer
     cumulative sums, magnitude-safe. MIGRATED IN ROUND 11 on its
     planned slot (string-routed both sides — the OVER sum now reads
     CAST(CAST(SUM(..) OVER (..) AS VARCHAR) AS DOUBLE)).
   - ROUND-10 RIDE BATCH: the 12 legacy oracles holding round-10
     refresh slots (q_cohort_ltv, q_decayed_avg, q_join_bucketed,
     q_join_dpp, q_scan_orc, q_scan_pruned, q_time_weighted_avg,
     q_timeseries_gapfill, q_timeseries_interpolate,
     q_window_rolling_days, q_winsorized_mean, q_wow_growth) were
     string-routed BOTH SIDES mid-round 10, riding their slots (the
     round-9 precedent). Notable: q_time_weighted_avg's cents x
     nanoseconds product sums exceed 2^53 ALREADY at sf1 (measured: max
     per-user scaled sum 2.2e19 = 2464x past the boundary) — it was
     green only by measured int128->double agreement, the q_agg_stats
     luck class; this batch retires that latent divergence.
     Ratchet after the batch: 9 names. ROUND-11 DEPARTURES: q_join_right
     (shim flip, slot) + q_window_range (inline-OVER, slot) +
     q_attribution and q_scan_evolved (both r6-vintage refreshers in the
     round-11 window — their migrations rode those slots for free, the
     round-9/10 precedent). Ratchet after round 11: 5 names. ROUND-12
     DEPARTURES — ITEM CLOSED: q_window_frame / q_null_semantics /
     q_subquery_scalar rode their r7 refresh slots and q_kmeans_iter /
     q_stream_tumbling were pulled one round ahead (q_stream_tumbling's
     Spark side already ran exact_sum; only the oracle text flipped).
     All audited magnitude-safe pre-flip; the string route removes the
     audit dependence. DIRECT_CAST_LEGACY is EMPTY and
     test_direct_decimal_cast_is_a_closed_set is a pure ban on the
     idiom — the rounds-9..12 migration program is COMPLETE.
3. ``spark.sql``-surface queries (sql_surface.py) execute ONE dialect-
   neutral text on both engines, so a single edit migrates both sides:
   q_sql_revenue_by_nation (scale 4, ~3.5e14 at sf1 — 1.4 orders of
   headroom, crosses near sf30). CLOSED — this row was stale for two
   rounds: the query was in fact string-routed in ROUND 9 (commit
   3a78478, "the two shared-text SQL-surface queries", spelled AS
   STRING because Spark's parser rejects bare VARCHAR while DuckDB
   accepts STRING as a VARCHAR alias) and held a round-9 window slot;
   its text carries no direct cast (ratchet-regex clean). Its round-11
   spare slot is therefore a driver-row + sf1 refresh, not a migration.
4. Scaled-integer BIGINT outputs (``CAST(SUM(..) AS BIGINT)``) are exact
   by construction — no conversion ambiguity, audited, no action.
5. (round 10, found by differential fuzzing — not a decimal-cast site but
   recorded here as part of the cross-engine contract ledger) The
   ``percentile()``/``quantile_cont()`` pairing has a TIE-BRACKET
   boundary: on a distinct interpolation bracket both engines compute
   the identical convex form lo*(1-f) + hi*f (bit-identical, pinned in
   tests/test_differential_fuzz.py section 20), but when the cut lands
   INSIDE a run of equal values v, Spark's counts-map shortcut returns v
   exactly while DuckDB 1.0.0 still evaluates v*(1-f) + v*f — one ulp
   off on ~5.7% of (v, f) pairs. Exposure needs the FIXTURE to put a
   cut point inside an inexact tie run; tests/test_percentile_tie_audit.py
   proves neither exposed pairing (q_percentile, q_outlier_mad) has such
   a cut at sf0.01 / sf0.1 / sf1, so the committed greens are structural.
   Migration path if a future fixture trips the audit: spell the oracle
   as an explicit rank interpolation with Spark's tie shortcut
   (CASE WHEN v_lo = v_hi THEN v_lo ELSE v_lo*(1-f) + v_hi*f END over
   row_number()-ranked values) — needs a window slot like any oracle
   rewrite. The migration-path oracle is PRE-VALIDATED bit-exact
   against Spark percentile() under non-dyadic/lattice/tie fuzz
   (tests/test_differential_fuzz.py section 30, round 11).
6. (round 11, found by differential probing — the math-DOMAIN contract)
   Outside a function's real domain Spark returns a value (NULL for
   ln/log10 of <= 0, NaN for sqrt/asin/acos violations) while DuckDB
   1.0.0 RAISES — a domain violation reaching an oracle KILLS the query
   rather than mis-hashing it. Exposure audit (section 35): every
   declared LN argument is strictly positive by construction and every
   SQRT argument is a self-dot product (sum of squares) or a
   variance-style discriminant (sxx - sx*sx/n; n*sxx - sx*sx in
   stats.py / distribution.py / analytics.py), non-negative in exact
   arithmetic and measured non-negative at the shipped fixtures (all
   adjudication-green, which an errored oracle could not be). WATCH
   (being closed proactively, round-11 VERDICT item 3): a ZERO-VARIANCE
   window whose squared sums exceed 2^53 (bollinger's reach ~6e20 at
   sf0.1) could round the discriminant to a tiny negative — Spark would
   emit NaN, DuckDB would error. Guard BOTH sides as
   SQRT(GREATEST(d, 0)) — pre-validated bit-exact (incl. tiny negatives
   and signed zero) by fuzz section 35. Guarded: q_bollinger_bands, the
   only MEASURED past-2^53 discriminant. Still open: q_agg_stats,
   q_outlier_zscore, q_acf, q_ab_ttest, q_rolling_corr, q_spearman_corr;
   each guard rewrites the oracle text, which re-queues the query for
   driver adjudication by the hash rule above. Self-dot SQRT arguments
   (embedding cosines, counts) are sums of non-negative IEEE terms and
   need no guard.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: decimal(38, s) leaves 38-s integral digits — vastly more than any
#: fixture aggregate needs, and identical in both engines.
PRECISION = 38


def dec(col: Column | str, scale: int = 6) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({PRECISION},{scale})")


def exact_sum(col: Column | str, scale: int = 6) -> Column:
    """Order-independent SUM over a double column, returned as DOUBLE.

    SQL oracle equivalent:
    ``CAST(CAST(SUM(CAST(x AS DECIMAL(38,s))) AS VARCHAR) AS DOUBLE)``
    (string-routed final conversion — see module docstring).
    """
    return F.sum(dec(col, scale)).cast("string").cast("double")


def exact_avg(col: Column | str, scale: int = 6) -> Column:
    """Order-independent AVG as exact-decimal-sum / count (double division).

    SQL oracle (string-routed, matching ``sql_avg``):
    ``CAST(CAST(SUM(CAST(x AS DECIMAL(38,s))) AS VARCHAR) AS DOUBLE) / COUNT(x)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return exact_sum(c, scale) / F.count(c)


def sql_sum(expr: str, scale: int = 6) -> str:
    return (
        f"CAST(CAST(SUM(CAST({expr} AS DECIMAL({PRECISION},{scale}))) "
        "AS VARCHAR) AS DOUBLE)"
    )


def sql_avg(expr: str, scale: int = 6) -> str:
    return f"{sql_sum(expr, scale)} / COUNT({expr})"


