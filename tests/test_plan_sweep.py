"""Repo-wide structural guard against the whole-partition corpus-window
class (r11, VERDICT r10 ask #2 — "a sweep ends it").

Three rounds in a row a catalog query landed a Window partitioned by a
LOW-CARDINALITY corpus column (lang: 3-5 values, source: 20, epoch: 2,
event_type: 5) over a corpus-shaped child — each language/source/type
partition is a corpus share funneled through ONE window task at any
scale.  r9 flagged two, r10 fixed those two and six more sat one grep
away, r11 routed all of them plus three the sweep itself found
(docs_name_collision, events_median_value, events_mad_outliers).  This
test walks the OPTIMIZED logical plan of EVERY catalog query, with every
skew-routed query forced onto its at-scale decomposed branch, and fails
on any unrouted offender — so the class cannot regrow.

A Window partitioned only by bad keys is acceptable exactly when:

* it is WindowGroupLimit-protected (top-k: the optimizer bounds each
  partition map-side — docs_domain_caps' per-source rank(15));
* its input is a SALT-CELL table: descending through unary nodes
  reaches an Aggregate whose grouping contains a ``_salt``/``salt``
  column (the operators/skew.py decomposition offsets — ≤ keys × cells
  rows by construction, never corpus-shaped).  The salt name is the
  repo-wide salting convention (operators/skew.py, plans/urls.py);
* it is whitelisted below with a reason (K-row constant-table windows).

Known blind spot: an eager ``localCheckpoint`` at plan-build time
(operators/shards.py assign_shards) truncates the visible plan — windows
upstream of the checkpoint are invisible here.  Those paths carry their
own plan pins (tests/test_plan_shapes.py).
"""

from __future__ import annotations

import signal
from contextlib import contextmanager

#: low-cardinality corpus columns: a Window partitioned ONLY by these is
#: a corpus-through-one-task plan unless protected/blessed.
#: export_group is `source` RENAMED (plans/media.py) — the sweep sees
#: attribute names, not lineage, so known aliases of bad keys must be
#: listed explicitly.  `k` rides along only in combination (export_group,
#: k) via the subset rule.
BAD_KEYS = {"lang", "source", "epoch", "event_type", "export_group", "k"}

#: (query, partition-tuple) -> reason, for windows the rules above can't
#: see are bounded.  Keep EMPTY unless a genuinely K-row case appears —
#: every entry here is a scale judgment someone must re-check.
ALLOW: dict[tuple[str, tuple[str, ...]], str] = {}

_SF = "/root/testdata/sf0.001"


def _names(exprs) -> tuple[str, ...]:
    out = []
    for i in range(exprs.size()):
        out.append(exprs.apply(i).toString().split("#")[0].strip())
    return tuple(sorted(out))


_UNARY_PASS = {
    "Project",
    "Filter",
    "Sort",
    "Repartition",
    "RepartitionByExpression",
    "ResolvedHint",
    "Window",
    "WithCTE",
}


def _salt_cell_blessed(win_node) -> bool:
    """Descend through unary nodes; True iff the first structural node
    found is EITHER a WindowGroupLimit (the optimizer bounded THIS
    window's partitions map-side — protection must be node-local: a
    plan-global check by partition tuple let one protected top-k window
    exonerate unprotected corpus windows on the same key elsewhere in
    the plan, which is exactly how events_quantile_sketch's exact branch
    slipped through) OR an Aggregate grouping by a salt column (the
    skew-decomposition cell table)."""
    node = win_node
    while True:
        ch = node.children()
        if ch.size() != 1:
            return False
        node = ch.apply(0)
        cls = node.getClass().getSimpleName()
        if cls == "WindowGroupLimit":
            return True
        if cls == "Aggregate":
            g = _names(node.groupingExpressions())
            return any(n in ("_salt", "salt") for n in g)
        if cls not in _UNARY_PASS:
            return False


def _violations(df) -> list[tuple[str, ...]]:
    plan = df._jdf.queryExecution().optimizedPlan()
    wins = []
    stack = [plan]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "Window":
            wins.append((_names(node.partitionSpec()), node))
        ch = node.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    bad = []
    for names, node in wins:
        if not names or not set(names) <= BAD_KEYS:
            continue
        if _salt_cell_blessed(node):
            continue
        bad.append(names)
    return bad


@contextmanager
def _deadline(seconds: int):
    """Hard wall-clock bound via SIGALRM (VERDICT r11 #6: the previous
    ``@pytest.mark.timeout`` was a silent no-op — pytest-timeout is not
    installed and installs are forbidden here).  Safe for this test:
    plan building is driver-side work in the main thread, where the
    alarm is delivered."""
    def _fire(signum, frame):
        raise TimeoutError(f"plan sweep exceeded {seconds}s wall-clock bound")

    prev = signal.signal(signal.SIGALRM, _fire)
    signal.alarm(seconds)
    try:
        yield
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, prev)


def test_no_unrouted_corpus_windows_on_low_card_keys(spark, salted):
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "spark_entry", "/root/repo/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    failures = {}
    errors = {}
    with _deadline(1200):
        # ``salted`` forces every routed window onto its decomposed
        # (at-scale) plan: the sweep must see the plan a 100 TB corpus runs
        for name, fn in sorted(mod.queries().items()):
            try:
                df = fn(spark, _SF)
                bad = _violations(df)
            except Exception as e:  # noqa: BLE001 — collect, report all at once
                errors[name] = repr(e)[:200]
                continue
            bad = [b for b in bad if (name, b) not in ALLOW]
            if bad:
                failures[name] = bad
    # the decomposed branches cache() their narrow pre-rank frames;
    # CacheManager dedupes by canonicalized plan ACROSS tests, so leave
    # no entries behind (a later plain-branch plan pin would otherwise
    # see InMemoryRelation where it asserts the raw exchange shape)
    spark.catalog.clearCache()
    assert not errors, f"queries failed to build a plan: {errors}"
    assert not failures, (
        "unrouted corpus windows on low-cardinality keys (route through "
        f"operators/skew.py salted_* or whitelist with a reason): {failures}"
    )


# ---------------------------------------------------------------------------
# r12 (VERDICT r11 ask #1): the sweep extended BEYOND the catalog.  The
# class's third recurrence (stage_quality_cut) was a window inside an
# operator the catalog sweep couldn't see; plan_registry.py registers
# every production frame-builder and these two tests make registration
# mandatory (AST completeness) and meaningful (same plan rules).
# ---------------------------------------------------------------------------

_PKG = "/root/repo/agf_data_ingestion_spark"
_SCAN_DIRS = ("operators", "streaming", "functions", "sources")


def _scan_source() -> tuple[set[tuple[str, str]], set[tuple[str, str]]]:
    """(window_fns, all_fns): top-level functions under the scanned dirs,
    and the subset whose body constructs ``Window.partitionBy(...)``."""
    import ast
    import pathlib

    wins, all_fns = set(), set()
    for sub in _SCAN_DIRS:
        for py in sorted(pathlib.Path(_PKG, sub).glob("*.py")):
            tree = ast.parse(py.read_text())
            for node in tree.body:
                if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                all_fns.add((f"{sub}/{py.name}", node.name))
                for inner in ast.walk(node):
                    if (
                        isinstance(inner, ast.Attribute)
                        and inner.attr == "partitionBy"
                        and isinstance(inner.value, ast.Name)
                        and inner.value.id == "Window"
                    ):
                        wins.add((f"{sub}/{py.name}", node.name))
                        break
    return wins, all_fns


def test_registry_covers_every_production_window():
    """A NEW window-bearing function in operators/streaming/functions/
    sources must register a frame-builder (or be allowlisted with a
    reason) before the suite goes green — the structural guarantee the
    catalog sweep alone could not give."""
    from agf_data_ingestion_spark.plan_registry import (
        ALLOW_UNREGISTERED,
        FRAME_BUILDERS,
    )

    found, all_fns = _scan_source()
    covered = set()
    for entry in FRAME_BUILDERS.values():
        covered |= entry["covers"]
    missing = found - covered - set(ALLOW_UNREGISTERED)
    assert not missing, (
        "production Window.partitionBy sites with no registered "
        f"frame-builder (add to plan_registry.py): {sorted(missing)}"
    )
    # covers/allowlist entries must name REAL functions — a dangling
    # entry means the registry silently stopped guarding a site that
    # moved or renamed.  (A covers entry WITHOUT a window today is fine:
    # shuffle_order_plan registers the pre-checkpoint plan so a window
    # added there later is walked, not hidden by the checkpoint.)
    dangling = (covered | set(ALLOW_UNREGISTERED)) - all_fns
    assert not dangling, (
        f"registry names functions that do not exist: {sorted(dangling)}"
    )
    # allowlist entries must still be window sites — an allowlisted
    # function that lost its window should drop off the list
    stale_allow = set(ALLOW_UNREGISTERED) - found
    assert not stale_allow, (
        f"ALLOW_UNREGISTERED entries with no window: {sorted(stale_allow)}"
    )


def test_no_unrouted_windows_in_registered_builders(spark, salted):
    """Walk every registered production frame's optimized plan with the
    SAME rules as the catalog sweep (BAD_KEYS / WindowGroupLimit /
    salt-cell), builders forced onto their at-scale branches."""
    from agf_data_ingestion_spark.plan_registry import FRAME_BUILDERS

    failures = {}
    errors = {}
    with _deadline(900):
        for name, entry in sorted(FRAME_BUILDERS.items()):
            try:
                frames = entry["build"](spark, _SF)
            except Exception as e:  # noqa: BLE001 — collect, report all at once
                errors[name] = repr(e)[:200]
                continue
            bad = []
            for df in frames:
                bad.extend(_violations(df))
            if bad:
                failures[name] = bad
    spark.catalog.clearCache()
    assert not errors, f"builders failed to build a plan: {errors}"
    assert not failures, (
        "unrouted corpus windows in PRODUCTION frames (route through "
        f"operators/skew.py salted_* or whitelist with a reason): {failures}"
    )
