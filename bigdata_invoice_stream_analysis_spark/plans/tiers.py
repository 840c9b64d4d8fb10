"""Registry cadence policy + plan fingerprints (the round-9
registry-ceiling decision, VERDICT r8 item 1).

## The problem this solves

The driver grades exactly 50 rows per round. The r1-r8 freshness
invariant — every registered row re-grades within 4 rounds of its
newest driver grade — costs ``registry/5`` window slots per round on
average, so the registry ceiling was 5 × 50 = 250 rows. At r8 the
registry held 200 rows with 51 staged candidates: 251 > 250, i.e. the
staging area could never fully convert, and the r9 mandatory set
alone (37 rows + returning §2 pins) would have left ~7 slots for 51
conversions.

## The policy (two tiers + fingerprint-gated changes)

* **FAST tier (4-round cadence)** — the reference-parity core and the
  weakest-evidence rows:
  - every §2-mapped pin (``FAST_PINS``): these are the queries a user
    of the reference actually runs; they stay on the tight cadence
    permanently;
  - the rows-only iterative-ML rows (``ROWS_ONLY_FAST``): with no
    hash-graded oracle their driver evidence is the weakest, so they
    get the tightest cadence, not the loosest.
* **STABLE tier (8-round cadence)** — every other registered row.
  Eligibility is evidence-based and machine-checked each round:
  - at least one clean driver grade (hash-match, zero driver failures
    ever) — recomputed from CORRECTNESS_r*.json by the tier test;
  - the row's local parity gate stays green every round
    (tests/test_oracle_parity.py runs the driver's own compare over
    ALL registered oracles — including rows whose window turn is
    rounds away);
  - the row's **plan fingerprint** (below) is pinned and unchanged.
    Any fingerprint change forces the row back into the grading
    window THE SAME ROUND (the standing changed-code re-pin rule,
    now test-enforced instead of conventional).

Ceiling under the policy: steady-state mandatory load =
``len(FAST)/5 + len(STABLE)/9``; with ~17 fast pins that bound is
~3.4 + (N-17)/9 ≤ 40 ⇒ N ≈ 350 registered rows while still leaving
≥10 free slots per round — the whole staging area converts over
r9-r11 with room to spare. test_tiers.py asserts the load bound so
any future registration wave re-prices it deliberately.

## Plan fingerprints

``fingerprint(name)`` hashes, per registered row:

1. the builder function's source (constants, plan shape, aliases);
2. its oracle SQL string (the graded contract itself);
3. the source of every same-module top-level helper the builder
   references, transitively (codebook/fixture builders — the r8
   lesson: 13 ``content_triage`` re-pins were forced by codebook
   widenings that never touched the builder itself);
4. the file hash of every engine module (operators/ functions/
   streaming/ ml/ sources/) the builder or its helpers import,
   transitively — so a parser fix (e.g. the r9 eml.py boundary fix)
   invalidates exactly the rows whose plans run that parser.

Deliberately OUT of the closure (documented boundary, not a gap in
the rule): ``INFRA_EXEMPT`` modules (session/scratch/deploy/cache and
the parquet-loading shim ``sources.tables``) whose churn cannot change
query semantics, and cross-plans-module helper reuse (plans/* files
import each other's corpus CTEs; that churn is governed by the
standing same-round re-pin rule via review, while the automated
fingerprint covers the engine modules where ~all r5-r8 churn actually
happened). Pinned values live in ``plans/fingerprints.json``
(regenerate with ``scripts/pin_fingerprints.py``); each entry carries
the round it was pinned, and tests/test_tiers.py enforces:

* computed fingerprint == pinned fingerprint for every registered row
  (any code change is a deliberate diff to the json, never silent);
* every row whose pin round == GRADED_ROUND is in GRADED_50 (changed
  code is graded the round it changes);
* tier-aware staleness: FAST rows within 4 rounds, STABLE within 8.

## Registered-row retirements (r9)

Three true twins leave the driver-facing registry (VERDICT r8 item 1
option (a); their builders, oracles, unit tests and local parity
gates all remain — only driver freshness bookkeeping ends):

* ``ann_cosine_topk`` — the brute-force ANN baseline; the bucketed
  scale paths (ann_ivf/sq8/pq, maxsim) stay graded, and the baseline
  stays the local reference implementation the parity suite runs.
* ``simhash_fingerprints`` — the per-row sketch projection;
  ``simhash_dedup_pairs`` grades the same sketch *and* the pairing.
* ``minhash_lsh_dedup_arrow`` — same oracle as ``minhash_lsh_dedup``
  by construction (the Arrow-vs-expression signature drift gate);
  drift between the twins is exactly what local parity catches.
"""

from __future__ import annotations

import ast
import hashlib
import inspect
import json
import textwrap
from pathlib import Path

PKG = "bigdata_invoice_stream_analysis_spark"
_PKG_DIR = Path(__file__).resolve().parents[1]
_FINGERPRINT_PATH = Path(__file__).with_name("fingerprints.json")

# §2-mapped pins: permanent FAST tier (see module docstring).
FAST_PINS: frozenset[str] = frozenset({
    "invoice_features",
    "parse_purchases",
    "topk_threshold",
    "centroid_anomalies",
    "streaming_full_pipeline",
    "invalid_lines",
    "route_counts",
    "cancelled_invoices",
    "hourly_event_stats",
    "weighted_invoice_features",
    "approx_distinct_users",
    "sliding_window_errors",
    "elbow_selection_table",
})

# Iterative-ML rows-only rows: weakest driver evidence ⇒ FAST tier.
ROWS_ONLY_FAST: frozenset[str] = frozenset({
    "kmeans_anomalies",
    "bisecting_anomalies",
    "kmeans_elbow_sweep",
})

# Driver-failure probation (r10): a row the driver has ever graded
# hash-MISMATCH rides the FAST cadence until it earns a clean grade —
# the stable tier is earned by clean evidence, and a failed row is
# exactly the row that must not coast 8 rounds between checks. The two
# r9 failures (value-level hash mismatches at the driver, not
# reproducible under the driver protocol locally — OPTIMIZATION_r10.md
# §1) are hardened this round and re-graded in the r10 window.
PROBATION_FAST: frozenset[str] = frozenset({
    "streaming_pii_monitor",
    "source_mixture_plan",
})

FAST_TIER: frozenset[str] = FAST_PINS | ROWS_ONLY_FAST | PROBATION_FAST

FAST_BOUND = 4   # rounds between driver grades, fast tier
STABLE_BOUND = 8  # rounds between driver grades, stable tier

# Bounded one-round deferral (r9 amendment). The changed-code re-pin
# rule meets a hard wall when a round's MANDATORY set (never-graded
# rows + tier-stale rows + changed rows) exceeds the driver's 50-slot
# window — r9's optimization pass re-fingerprinted 20 rows on top of
# the 23 conversions and the mid-build churn, putting the union at 62.
# Resolution, encoded rather than ad hoc: a changed STABLE-tier row
# that meets the stable tier's own evidence bar (>=1 clean hash-match
# driver grade, zero driver failures ever, local parity green) may
# take its re-grade slot ONE round late, listed here with its due
# round. FAST-tier rows, never-graded rows and bound-stale rows can
# never defer. tests/test_tiers.py enforces the
# eligibility, the one-round bound, and — once GRADED_ROUND reaches
# the due round — window membership, so the debt cannot roll.
DEFERRED_REPINS: dict[str, int] = {
    # r9 → due r10: the 12 stable backfill rows displaced by the 12
    # optimization re-pins (state-gate sizing, Arrow sinks, warc URL
    # normalization fix, memoized frame decode). All were in the r9
    # window as EARLY backfill ahead of their r12 stable deadline —
    # deferring them to r10 still beats that bound by two rounds.
    "winnow_fingerprints": 10,
    "media_exact_dedup": 10,
    "split_contamination_bloom": 10,
    "hll_partial_merge": 10,
    "equidepth_value_bins": 10,
    "event_transition_matrix": 10,
    "skew_key_profile": 10,
    "weekly_retention": 10,
    "user_value_ewma": 10,
    "rolling_active_users": 10,
    "latest_event_per_user": 10,
    "media_audio_samples": 10,
}

# r9 registered-row retirements (module docstring): out of the
# driver-facing registry, still in QUERIES/ORACLES for local parity,
# unit tests, and bench continuity.
RETIRED_FROM_DRIVER: frozenset[str] = frozenset({
    "ann_cosine_topk",
    "simhash_fingerprints",
    "minhash_lsh_dedup_arrow",
})

# Infra modules whose churn cannot change query semantics (parquet
# loading, session factory, temp dirs, worker-zip shipping, cache
# bookkeeping) — excluded from fingerprint closures so a config-knob
# tweak does not demand 200 same-round re-pins.
INFRA_EXEMPT: frozenset[str] = frozenset({
    f"{PKG}.sources.tables",
    f"{PKG}.session",
    f"{PKG}.scratch",
    f"{PKG}.deploy",
    f"{PKG}.cache",
})


def _module_path(modname: str) -> Path | None:
    """Package module name → source file, None if not ours."""
    if not modname.startswith(PKG):
        return None
    rel = modname.split(".")[1:]
    base = _PKG_DIR.joinpath(*rel) if rel else _PKG_DIR
    if base.is_dir():
        init = base / "__init__.py"
        return init if init.exists() else None
    py = base.with_suffix(".py")
    return py if py.exists() else None


def _package_imports(tree: ast.AST) -> set[str]:
    """Absolute package-module names imported anywhere in *tree*
    (module level or inside function bodies — the house style does
    local imports in builders)."""
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module:
            if node.module.startswith(PKG):
                out.add(node.module)
                # `from pkg.operators import sniff` style: the names
                # may themselves be modules
                for alias in node.names:
                    out.add(f"{node.module}.{alias.name}")
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.startswith(PKG):
                    out.add(alias.name)
    return {m for m in out if _module_path(m) is not None}


def _closure_seeds(modnames: set[str]) -> set[str]:
    """Drop plans.* and infra modules from a seed set (module
    docstring: plans-module helper reuse is governed by the standing
    re-pin rule; infra churn is semantics-free)."""
    return {
        m for m in modnames
        if m not in INFRA_EXEMPT and not m.startswith(f"{PKG}.plans")
    }


_MODULE_CACHE: dict[str, tuple[str, set[str]]] = {}


def _module_info(modname: str) -> tuple[str, set[str]]:
    """(sha256 of file, package imports) for a module, cached."""
    if modname not in _MODULE_CACHE:
        path = _module_path(modname)
        src = path.read_bytes()
        tree = ast.parse(src)
        _MODULE_CACHE[modname] = (
            hashlib.sha256(src).hexdigest(),
            _closure_seeds(_package_imports(tree)),
        )
    return _MODULE_CACHE[modname]


def _transitive_closure(seeds: set[str]) -> dict[str, str]:
    """{module name: file sha256} over the engine-module closure."""
    done: dict[str, str] = {}
    todo = sorted(seeds)
    while todo:
        m = todo.pop()
        if m in done:
            continue
        digest, imports = _module_info(m)
        done[m] = digest
        todo.extend(sorted(imports - set(done)))
    return done


_SEGMENTS_CACHE: dict[str, tuple[str, dict[str, str], dict[str, str]]] = {}


def _module_segments(srcfile: str) -> tuple[
        str, dict[str, str], dict[str, str]]:
    """(module source, {top-level name: source segment},
    {imported alias: package module}) for the builder's defining
    module — powers the same-module helper closure and the
    module-level-import closure (r10 gap fix: a builder referencing
    ``DD.jaccard_prefix_pairs`` through a MODULE-level
    ``from pkg.operators import dedup as DD`` used to miss dedup.py
    entirely, because import statements are neither top-level
    assignments nor builder-local imports)."""
    if srcfile not in _SEGMENTS_CACHE:
        src = Path(srcfile).read_text()
        tree = ast.parse(src)
        segs: dict[str, str] = {}
        aliases: dict[str, str] = {}
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                segs[node.name] = ast.get_source_segment(src, node) or ""
            elif isinstance(node, ast.Assign):
                seg = ast.get_source_segment(src, node) or ""
                for tgt in node.targets:
                    if isinstance(tgt, ast.Name):
                        segs[tgt.id] = seg
            elif isinstance(node, ast.AnnAssign) and isinstance(
                    node.target, ast.Name):
                segs[node.target.id] = ast.get_source_segment(
                    src, node) or ""
            elif isinstance(node, ast.ImportFrom) and node.module:
                if node.module.startswith(PKG):
                    for alias in node.names:
                        bound = alias.asname or alias.name
                        # `from pkg.operators import dedup as DD`
                        # binds a MODULE; `from pkg.operators.dedup
                        # import f` binds a name FROM a module —
                        # either way the engine file behind the bound
                        # name is node.module[.name].
                        sub = f"{node.module}.{alias.name}"
                        if _module_path(sub) is not None:
                            aliases[bound] = sub
                        elif _module_path(node.module) is not None:
                            aliases[bound] = node.module
            elif isinstance(node, ast.Import):
                for alias in node.names:
                    if alias.name.startswith(PKG) and _module_path(
                            alias.name) is not None:
                        bound = (alias.asname
                                 or alias.name.split(".")[0])
                        aliases[bound] = alias.name
        _SEGMENTS_CACHE[srcfile] = (src, segs, aliases)
    return _SEGMENTS_CACHE[srcfile]


def _names_in(source: str) -> set[str]:
    tree = ast.parse(textwrap.dedent(source))
    return {
        n.id for n in ast.walk(tree) if isinstance(n, ast.Name)
    }


def fingerprint(name: str, fn, oracle: str | None) -> str:
    """The row's plan fingerprint (module docstring §Plan
    fingerprints). Deterministic across processes: sorted traversal,
    content-addressed module hashes."""
    srcfile = inspect.getsourcefile(fn)
    _, segs, aliases = _module_segments(srcfile)
    builder_src = inspect.getsource(fn)

    pieces: list[str] = [builder_src]
    seeds: set[str] = set()
    seen: set[str] = set()
    frontier = [builder_src]
    while frontier:
        src = frontier.pop()
        seeds |= _closure_seeds(_package_imports(
            ast.parse(textwrap.dedent(src))))
        for ref in sorted(_names_in(src)):
            if ref in aliases:
                # r10 gap fix: names bound by MODULE-level imports of
                # engine modules enter the closure of exactly the
                # rows that reference them.
                seeds |= _closure_seeds({aliases[ref]})
            if ref in segs and ref not in seen:
                seen.add(ref)
                frontier.append(segs[ref])
    # deterministic order for the helper pieces
    pieces.extend(segs[n] for n in sorted(seen))

    closure = _transitive_closure(seeds)
    payload = json.dumps({
        "builder": pieces,
        "oracle": oracle or "",
        "deps": dict(sorted(closure.items())),
    }, sort_keys=True)
    return hashlib.sha256(payload.encode()).hexdigest()


def load_pins() -> dict[str, dict]:
    """{name: {"fp": hex, "round": int}} from fingerprints.json."""
    with open(_FINGERPRINT_PATH) as fh:
        return json.load(fh)
