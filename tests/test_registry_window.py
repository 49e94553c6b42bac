"""The driver records only the FIRST 50 registered queries — these tests pin
the window so a refactor can't silently push a query family out of the
driver's correctness artifact (round-1 regression: alphabetical module
import order starved tpch/similarity/text of driver rows).

Round 4+: the window ROTATES. Queries the driver has hash-verified green in
a prior round (CORRECTNESS_r*.json → plans.DRIVER_VERIFIED_HISTORY) may park
past the window — their green artifact rows are standing evidence — freeing
slots for queries the driver has never checked. Invariants below enforce
that rotation strictly GROWS the cumulative driver-verified set:
§2-row coverage is window ∪ history, parked oracled queries must be in
history OR redundant, and while never-verified oracled queries remain, the
window must spend slots on them.
"""

from __future__ import annotations

import os
import sys

from ssidentity_spark.plans import (
    DRIVER_VERIFIED_HISTORY,
    DRIVER_WINDOW,
    PYTEST_ONLY_SURVEY_ROWS,
)
from ssidentity_spark.registry import REGISTRY, all_queries, bench_queries

WINDOW = 50
# While any oracled query has never been driver-verified, at least this many
# window slots must go to first-timers (the "rotation grows the cumulative
# set" guarantee — VERDICT r2 ask #1).
MIN_FIRST_TIMERS = 10


def _survey_rows(spec) -> set[str]:
    # survey tags are comma-separated row ids, possibly with a trailing note
    return {t.strip().split(" ")[0] for t in spec.survey.split(",") if t.strip()}


def test_window_is_exactly_the_first_50_registered():
    names = list(all_queries())
    assert len(DRIVER_WINDOW) == WINDOW
    assert len(set(DRIVER_WINDOW)) == WINDOW
    assert tuple(names[:WINDOW]) == DRIVER_WINDOW


def test_every_module_has_a_windowed_query():
    windowed_modules = {
        REGISTRY[n].fn.__module__.rsplit(".", 1)[-1] for n in DRIVER_WINDOW
    }
    all_modules = {
        spec.fn.__module__.rsplit(".", 1)[-1] for spec in REGISTRY.values()
    }
    assert windowed_modules == all_modules


def test_history_matches_correctness_artifacts():
    """DRIVER_VERIFIED_HISTORY is a committed copy of the artifact union —
    regenerate with tools/driver_history.py when a new round's
    CORRECTNESS_r*.json lands.

    Tolerance (ADVICE r4): the NEWEST artifact may be uncommitted — the
    driver drops CORRECTNESS_r{N}.json between rounds, and the suite must
    not go red in the gap before the next session regenerates. Staleness
    beyond that (missing entries from older artifacts, or entries never
    green in any artifact) still fails."""
    import glob
    import json
    import re

    import pytest

    tools_dir = os.path.join(os.path.dirname(__file__), "..", "tools")
    sys.path.insert(0, tools_dir)
    from driver_history import driver_green_history

    union = frozenset(driver_green_history())
    if DRIVER_VERIFIED_HISTORY == union:
        return
    # every committed entry must be evidenced by some artifact
    assert DRIVER_VERIFIED_HISTORY <= union, (
        f"committed history has entries no artifact evidences: "
        f"{sorted(DRIVER_VERIFIED_HISTORY - union)}"
    )
    # anything uncommitted must come solely from the newest artifact;
    # "newest" = highest round NUMBER (lexicographic glob order would put
    # r100 before r99), and an empty glob is a loud skip, not IndexError
    root = os.path.join(os.path.dirname(__file__), "..")
    artifacts = glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))
    if not artifacts:
        pytest.skip("no CORRECTNESS artifacts on disk")
    latest = max(
        artifacts,
        key=lambda p: int(re.search(r"r(\d+)", os.path.basename(p)).group(1)),
    )
    with open(latest) as f:
        newest_green = {
            n for n, rec in json.load(f).items() if rec.get("hash_match")
        }
    stale = union - DRIVER_VERIFIED_HISTORY - newest_green
    assert not stale, (
        f"history stale beyond the newest artifact ({os.path.basename(latest)}); "
        f"run tools/driver_history.py and commit: {sorted(stale)}"
    )


def test_every_batch_survey_row_has_driver_evidence():
    """Cumulative coverage: every §2 row evidenced by any registered query
    must be evidenced by a windowed query (checked this round) or by a
    historically driver-green query (checked in a prior round)."""
    evidenced: set[str] = set()
    for n, spec in REGISTRY.items():
        if n in DRIVER_WINDOW or n in DRIVER_VERIFIED_HISTORY:
            evidenced |= _survey_rows(spec)
    for name, spec in REGISTRY.items():
        uncovered = _survey_rows(spec) - evidenced - PYTEST_ONLY_SURVEY_ROWS
        assert not uncovered, (
            f"{name} evidences rows with no windowed or history-green query: "
            f"{uncovered}"
        )


def test_rotation_spends_slots_on_first_timers():
    """While never-driver-verified oracled queries exist, the window must
    include at least MIN_FIRST_TIMERS of them (or all that remain)."""
    never_verified = {
        n
        for n, spec in REGISTRY.items()
        if spec.oracle and n not in DRIVER_VERIFIED_HISTORY
    }
    if not never_verified:
        return  # everything oracled has been driver-verified at least once
    first_timers = never_verified & set(DRIVER_WINDOW)
    need = min(MIN_FIRST_TIMERS, len(never_verified))
    assert len(first_timers) >= need, (
        f"only {len(first_timers)} first-time-verified queries windowed; "
        f"{len(never_verified)} never-verified remain: "
        f"{sorted(never_verified - first_timers)[:10]}"
    )


def test_parked_oracled_queries_have_history_or_redundancy():
    """A query parked past the window must either be history-green (its
    artifact row is the evidence) or be a redundant variant whose every §2
    row is carried by a windowed or history-green sibling (checked above) —
    i.e. parking never deletes evidence."""
    windowed_or_green_rows: set[str] = set()
    for n, spec in REGISTRY.items():
        if n in DRIVER_WINDOW or n in DRIVER_VERIFIED_HISTORY:
            windowed_or_green_rows |= _survey_rows(spec)
    for name, spec in REGISTRY.items():
        if name in DRIVER_WINDOW or name in DRIVER_VERIFIED_HISTORY:
            continue
        assert _survey_rows(spec) <= windowed_or_green_rows | PYTEST_ONLY_SURVEY_ROWS, (
            f"{name} parked with neither history nor a covering sibling"
        )


def test_bench_headliners_are_windowed():
    missing = set(bench_queries()) - set(DRIVER_WINDOW)
    assert not missing, f"bench queries outside driver window: {missing}"


def test_windowed_queries_prefer_oracles():
    """Rows-only entries are allowed in the window only for genuinely
    non-SQL-expressible ops — keep the list explicit so additions are
    deliberate. r6: the list is EMPTY — the trained-ANN family gained
    trained-model snapshot oracles and ref_trilateration a closed-form
    normal-equation oracle (VERDICT r5 asks #1-2), so every windowed query
    is now hash-gated; only the two approx sketches (a8_approx_*) remain
    rows-only in the registry, parked with history evidence."""
    rows_only = {n for n in DRIVER_WINDOW if REGISTRY[n].oracle is None}
    assert rows_only == set()


def test_parked_history_entries_are_content_fresh():
    """The r12 freshness guard (VERDICT r11 ask #7): a history entry
    parks a query outside the window on the strength of a PAST green
    row — if the plan function or oracle changed since it was stamped,
    that evidence is void and the query must be re-queued (windowed)
    or re-stamped only by a new driver green. Every history name
    parked outside DRIVER_WINDOW must hash-match its stamp."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    import driver_history as dh

    stamps = dh.load_stamps()
    parked = (DRIVER_VERIFIED_HISTORY - set(DRIVER_WINDOW)) & set(REGISTRY)
    current = {n: dh.plan_hash(n) for n in parked}
    stale = dh.compute_stale(parked, stamps, current)
    assert not stale, (
        f"history entries edited since their stamp — re-queue into "
        f"DRIVER_WINDOW (or refresh via a new driver-green round): "
        f"{sorted(stale)}"
    )


def test_freshness_guard_requeues_an_edited_entry():
    """Toy end-to-end of the guard's core: an edit to a stamped entry's
    content flips it stale; an unedited sibling stays fresh; an entry
    with no stamp at all is stale by definition."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from driver_history import compute_stale

    history = {"q_edited", "q_same", "q_unstamped", "q_unregistered"}
    stamps = {"q_edited": "aaa", "q_same": "bbb"}
    current = {"q_edited": "EDITED", "q_same": "bbb", "q_unstamped": "ccc"}
    stale = compute_stale(history, stamps, current)
    assert stale == {"q_edited", "q_unstamped"}


def test_closure_hash_sees_shared_helper_edits():
    """r13 guard upgrade (VERDICT r12 ask #5): the freshness hash walks
    the transitive helper closure, so an edit to a shared package-local
    operator changes every consumer's hash — the r12 star-CC gap (an
    operator edit invisible to the name-keyed stamp) cannot recur."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    import hashlib

    import driver_history as dh

    def helper_v1(x):
        return x + 1

    def helper_v2(x):
        return x + 2

    def plan_fn(spark, sf_dir):
        return shared_helper(1)  # noqa: F821 — resolved via __globals__

    def blob_for(helper):
        fn = type(plan_fn)(
            plan_fn.__code__,
            {**plan_fn.__globals__, "shared_helper": helper},
            plan_fn.__name__,
        )
        fn.__module__ = "ssidentity_spark.plans.fake"
        helper.__module__ = "ssidentity_spark.operators.fake"
        parts: dict[str, str] = {}
        dh._closure_parts(fn, dh._code_names(fn.__code__), parts, set())
        assert any("helper" in k for k in parts), parts.keys()
        blob = "\n".join(f"{k}\n{v}" for k, v in sorted(parts.items()))
        return hashlib.sha256(blob.encode()).hexdigest()

    assert blob_for(helper_v1) != blob_for(helper_v2)
    assert blob_for(helper_v1) == blob_for(helper_v1)


def test_plan_hash_does_not_depend_on_the_checkout_root(tmp_path):
    """Snapshot-backed oracles embed the absolute ``.fixture_snapshots``
    path; the freshness hash tokenizes the checkout root, so a copy of
    the tree elsewhere hashes such a query exactly as this one does."""
    import shutil
    import subprocess

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    import driver_history as dh

    name = "ref_trilateration"
    assert dh._REPO_ROOT in REGISTRY[name].oracle
    copy = tmp_path / "elsewhere"
    shutil.copytree(
        os.path.join(dh._REPO_ROOT, "ssidentity_spark"),
        copy / "ssidentity_spark",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    (copy / "tools").mkdir()
    shutil.copy(dh.__file__, copy / "tools")
    probe = (
        "import sys; sys.path.insert(0, 'tools'); import driver_history as dh; "
        "from ssidentity_spark.registry import REGISTRY; "
        f"h = dh.plan_hash({name!r}); "
        f"print(dh._REPO_ROOT in REGISTRY[{name!r}].oracle, h)"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=copy,
        env={**os.environ, "PYTHONPATH": str(copy)},
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    assert out == ["True", dh.plan_hash(name)]
