"""Registration-order contract: the driver's correctness gate grades the
FIRST 50 keys of ``queries()`` in dict order (CORRECTNESS_r01.json keys
== list(QUERIES)[:50]).

The window is derived (``registry.derive_window``) from the driver's
on-disk CORRECTNESS artifacts plus one declared input,
``_CHANGED_IN_ROUND``, so these tests check the properties of the
derivation rather than a per-round key list:

(a) the applied order is exactly the derivation's output;
(b) every changed-this-round key is in the window (new plans re-earn
    driver rows instead of coasting on stale greens), and a past
    round's entry pins nothing;
(c) every `_FAMILY_KEEP_PRIORITY` family is covered;
(d) stalest first: a never-graded key (round 0) goes ahead of every
    graded key that is not a family keep, and the oldest driver rows
    are re-graded first;
(e) the derived round number tracks the artifacts on disk, so a new
    CORRECTNESS file rotates the window automatically.
"""

from __future__ import annotations

import glob
import json
import pathlib
import re

import pytest

REPO = pathlib.Path(__file__).resolve().parent.parent


def _max_artifact_round() -> int:
    rounds = [0]
    for path in glob.glob(str(REPO / "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if m:
            rounds.append(int(m.group(1)))
    return max(rounds)


def _first50(registry_loaded):
    return list(registry_loaded.QUERIES)[:50]


def test_round_derived_from_artifacts(registry_loaded):
    """No hand-bumped counter: the round is 1 + the newest CORRECTNESS
    artifact, so the driver landing round N's file auto-rotates round
    N+1's window."""
    assert registry_loaded.rotation_round() == _max_artifact_round() + 1


def test_window_applied_exactly(registry_loaded):
    window = _first50(registry_loaded)
    assert window == registry_loaded.derive_window()
    assert len(window) == registry_loaded._WINDOW_SIZE == 50
    assert len(set(window)) == 50
    assert window[0] == "q_wordcount"


def test_graded_before_reads_only_prior_rounds(registry_loaded):
    """The round-4 lesson: the first-ever guard must ignore the current
    round's own artifact once the driver lands it."""
    current = registry_loaded.rotation_round()
    prior = registry_loaded.graded_before(current)
    everything = registry_loaded.graded_before(current + 1)
    # keys graded in the newest artifact are excluded from `prior` when
    # that artifact belongs to the current round, included otherwise
    assert prior <= everything


def test_changed_impls_stay_in_window(registry_loaded):
    """Keys whose plans changed this round must be graded with the new
    implementation, not coast on a stale green row."""
    assert registry_loaded.changed_in() <= set(_first50(registry_loaded))


def _required_families(registry_loaded) -> set[str]:
    modules = {registry_loaded._module_of(fn) for fn in registry_loaded.QUERIES.values()}
    return set(registry_loaded._FAMILY_KEEP_PRIORITY) & modules


def _covered_families(registry_loaded, window) -> set[str]:
    return {registry_loaded._module_of(registry_loaded.QUERIES[k]) for k in window}


def test_window_covers_every_family(registry_loaded):
    """One keep per family: the window spans the whole SURVEY §2 surface."""
    missing = _required_families(registry_loaded) - _covered_families(
        registry_loaded, _first50(registry_loaded)
    )
    assert not missing, f"window misses families: {sorted(missing)}"

def test_reorder_is_complete_and_lossless(registry_loaded):
    """Reordering must not drop or duplicate any registered query."""
    keys = list(registry_loaded.QUERIES)
    assert len(keys) == len(set(keys))
    assert set(registry_loaded.ORACLES) <= set(keys)


def test_next_round_auto_rotation_preview(registry_loaded):
    """When the driver lands the current round's artifact, the next
    round's window must take every still-ungraded key and span every
    family with no hand edit. Simulated by injecting the would-be graded
    set."""
    cur = registry_loaded.rotation_round()
    this_window = registry_loaded.derive_window()
    prior_next = registry_loaded.graded_before() | set(this_window)
    nxt = registry_loaded.derive_window(round_no=cur + 1, prior=prior_next)
    leftovers = {k for k in registry_loaded.QUERIES if k not in prior_next}
    assert leftovers <= set(nxt), (
        f"round {cur + 1} would strand never-graded keys: "
        f"{sorted(leftovers - set(nxt))}"
    )
    assert len(nxt) == 50
    missing = _required_families(registry_loaded) - _covered_families(
        registry_loaded, nxt
    )
    assert not missing, f"round {cur + 1} misses families: {sorted(missing)}"

def test_changed_in_is_round_scoped(registry_loaded, monkeypatch):
    """A changed-keys entry pins its own round's window only: deriving any
    other round ignores it, so a forgotten hand edit can under-pin but
    never permanently over-pin."""
    newest = registry_loaded.newest_grade_rounds()
    # the freshest keys: nothing but a pin puts them at the window head
    pinned = frozenset(
        sorted(registry_loaded.QUERIES, key=lambda k: (-newest.get(k, 0), k))[:3]
    ) - {"q_wordcount"}
    monkeypatch.setitem(registry_loaded._CHANGED_IN_ROUND, 9998, pinned)
    assert registry_loaded.changed_in(9998) == pinned
    assert registry_loaded.changed_in(9999) == frozenset()
    prior_all = set(registry_loaded.QUERIES)
    head = slice(1, 1 + len(pinned))
    w = registry_loaded.derive_window(round_no=9998, prior=prior_all)
    assert w[head] == sorted(pinned)
    w = registry_loaded.derive_window(round_no=9999, prior=prior_all)
    assert set(w[head]) != pinned


def test_changed_key_typo_is_rejected(registry_loaded, monkeypatch):
    monkeypatch.setitem(
        registry_loaded._CHANGED_IN_ROUND, 9998, frozenset({"q_no_such_key"})
    )
    with pytest.raises(KeyError, match="q_no_such_key"):
        registry_loaded.derive_window(round_no=9998)


def test_never_graded_key_precedes_graded_regrades(registry_loaded):
    """Dropping keys from ``prior`` makes them never graded (round 0), so
    they land ahead of every graded key outside the wordcount / changed /
    family-keep head. Two fresh keys of one family are dropped: the first
    becomes that family's keep, the second must lead the stalest-first
    tail."""
    newest = registry_loaded.newest_grade_rounds()
    window = set(registry_loaded.derive_window())
    by_module: dict[str, list[str]] = {}
    for k in sorted(registry_loaded.QUERIES, key=lambda k: (-newest.get(k, 0), k)):
        if k not in window and k not in registry_loaded.changed_in():
            fam = registry_loaded._module_of(registry_loaded.QUERIES[k])
            by_module.setdefault(fam, []).append(k)
    dropped = next(keys[:2] for keys in by_module.values() if len(keys) >= 2)
    prior = registry_loaded.graded_before() - set(dropped)
    w = registry_loaded.derive_window(prior=prior)
    assert set(dropped) <= set(w)
    # a family keep is the first window key of its module; q_wordcount
    # and changed keys sit ahead of the keeps
    seen: set[str] = set()
    regrades = []
    for k in w:
        fam = registry_loaded._module_of(registry_loaded.QUERIES[k])
        if fam in seen and k in prior:
            regrades.append(k)
        seen.add(fam)
    assert regrades, "window holds no graded non-family key"
    first_regrade = w.index(regrades[0])
    assert all(w.index(k) < first_regrade for k in dropped), (dropped, w)

def test_window_drains_stalest_regrades(registry_loaded):
    """Round-11 freshness mechanism (VERDICT r10 item 3): with the
    never-graded backlog empty, the free window slots go to the keys
    with the OLDEST newest driver row — so a round-1 green can never
    again sit stale for ten rounds while fresher keys round-robin.
    Concretely: every key at the current global staleness floor must
    be in the window whenever the floor set provably fits (window
    minus the forced head minus a worst-case one-keep-per-family)."""
    newest = registry_loaded.newest_grade_rounds()
    prior = registry_loaded.graded_before()
    graded = [k for k in registry_loaded.QUERIES if k in prior]
    if not graded:
        return  # round 1: nothing to re-grade
    floor = min(newest.get(k, 0) for k in graded)
    floor_keys = {k for k in graded if newest.get(k, 0) == floor}
    fixed = {"q_wordcount"} | set(registry_loaded.changed_in())
    free = (
        registry_loaded._WINDOW_SIZE
        - len(fixed)
        - len(registry_loaded._FAMILY_KEEP_PRIORITY)
    )
    if len(floor_keys) <= free:
        w = set(registry_loaded.derive_window())
        assert floor_keys <= w, (
            f"staleness floor r{floor} keys left out: "
            f"{sorted(floor_keys - w)}"
        )


def test_newest_grade_rounds_matches_artifacts(registry_loaded):
    """newest_grade_rounds() must report, per key, the max round of
    any CORRECTNESS artifact containing it — re-derived independently
    here from the raw files."""
    want: dict[str, int] = {}
    for path in glob.glob(str(REPO / "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        n = int(m.group(1))
        for k in json.loads(pathlib.Path(path).read_text()):
            want[k] = max(want.get(k, 0), n)
    assert registry_loaded.newest_grade_rounds() == want
    # round scoping (ADVICE r11): a preview for round N must ignore
    # artifacts from rounds >= N, mirroring graded_before — otherwise
    # derive_window(round_no=N, prior=...) mixes an N-scoped graded
    # set with whole-history staleness and stops being reproducible
    # once later artifacts land
    rounds = sorted({n for n in want.values()})
    if len(rounds) >= 2:
        cut = rounds[-1]  # scope to exclude the newest artifact
        scoped = registry_loaded.newest_grade_rounds(round_no=cut)
        want_scoped: dict[str, int] = {}
        for path in glob.glob(str(REPO / "CORRECTNESS_r*.json")):
            m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
            if not m or int(m.group(1)) >= cut:
                continue
            for k in json.loads(pathlib.Path(path).read_text()):
                want_scoped[k] = max(want_scoped.get(k, 0), int(m.group(1)))
        assert scoped == want_scoped
