"""The pin-maintenance logic that decides which queries re-enter the
driver's correctness rotation — wrong behavior here either wastes
driver slots (never-refreshable stale pins) or certifies deleted code
(green rows outliving rewrites), so every branch is pinned."""

from __future__ import annotations

from tools.update_verified_hashes import compute_pins

GREEN = {"hash_match": True, "spark_rows": 1, "err": None}
ROWS_ONLY = {"hash_match": None, "spark_rows": 1, "err": "no_oracle"}
RED = {"hash_match": False, "spark_rows": 1, "err": None}


def test_new_green_names_are_pinned_at_current_hash():
    pins, added, refreshed, stale = compute_pins(
        {}, {"q1": "h1", "q2": "h2"}, [{"q1": GREEN, "q2": ROWS_ONLY}]
    )
    assert pins == {"q1": "h1", "q2": "h2"}
    assert set(added) == {"q1", "q2"} and not refreshed and not stale


def test_red_rows_never_pin():
    pins, added, *_ = compute_pins({}, {"q1": "h1"}, [{"q1": RED}])
    assert pins == {} and not added


def test_stale_pin_without_fresh_green_stays_stale():
    """A rewrite after an OLD green row must re-queue the query: the
    pin keeps naming the verified (old) implementation."""
    pins, added, refreshed, stale = compute_pins(
        {"q1": "old"}, {"q1": "new"}, [{"q1": GREEN}, {"q2": GREEN}]
    )
    assert pins["q1"] == "old"
    assert stale == ["q1"] and not refreshed


def test_stale_pin_refreshes_when_latest_round_is_green():
    """Once the latest driver run verifies the rewritten query, the
    pin must move to the current hash — otherwise the query burns a
    driver slot every round forever."""
    pins, added, refreshed, stale = compute_pins(
        {"q1": "old"},
        {"q1": "new"},
        [{"q1": GREEN}, {"q1": GREEN}],  # latest round green again
    )
    assert pins["q1"] == "new"
    assert refreshed == ["q1"] and not stale


def test_excluded_names_are_not_pinned():
    pins, added, *_ = compute_pins(
        {}, {"q1": "h1"}, [{"q1": GREEN}], exclude={"q1"}
    )
    assert pins == {} and not added


def test_unregistered_names_are_dropped():
    pins, *_ = compute_pins({"gone": "h"}, {"q1": "h1"}, [{"q1": GREEN}])
    assert "gone" not in pins


def test_excluded_names_lose_existing_pins():
    """--exclude must drop an existing pin, not just skip re-pinning:
    the whole point of excluding is to force the query back into the
    driver's rotation."""
    pins, *_ = compute_pins(
        {"q1": "h1"}, {"q1": "h1"}, [{"q1": GREEN}], exclude={"q1"}
    )
    assert pins == {}


def test_rows_only_row_does_not_certify_name_with_oracle():
    """The round-3 blind spot: a query verified rows-only in r1, then
    given a full value-hash oracle in r2, must NOT stay pinned on the
    old rows-only row — the new oracle has never been driver-run."""
    pins, added, *_ = compute_pins(
        {"q1": "h1"},
        {"q1": "h1"},
        [{"q1": ROWS_ONLY}],
        with_oracle={"q1"},
    )
    assert pins == {} and not added


def test_rows_only_row_still_certifies_oracle_less_name():
    """Declared no-oracle queries (HLL internals, libm transcendentals)
    keep their rows-only green — nothing stricter to run."""
    pins, added, *_ = compute_pins(
        {}, {"q1": "h1"}, [{"q1": ROWS_ONLY}], with_oracle=set()
    )
    assert pins == {"q1": "h1"} and added == ["q1"]


def test_hash_green_row_certifies_regardless_of_oracle():
    pins, added, *_ = compute_pins(
        {}, {"q1": "h1"}, [{"q1": GREEN}], with_oracle={"q1"}
    )
    assert pins == {"q1": "h1"}


def test_persistent_exclusions_survive_reruns():
    """The round-7 footgun: an --exclude for a rewritten query must
    stay active on a LATER run without the flag — otherwise the old
    green row silently re-pins the new implementation."""
    from tools.update_verified_hashes import apply_persistent_excludes

    rounds = [{"q1": GREEN}]
    # run 1: exclude q1 (rewritten after its green)
    active, ledger = apply_persistent_excludes({}, {"q1"}, rounds)
    assert active == {"q1"} and ledger == {"q1": 1}
    # run 2 (no flag): still excluded
    active2, ledger2 = apply_persistent_excludes(ledger, set(), rounds)
    assert active2 == {"q1"} and ledger2 == {"q1": 1}


def test_persistent_exclusion_lifts_on_fresh_green():
    """Once a CORRECTNESS file NEWER than the exclusion shows the
    name green (the driver verified the rewrite), the exclusion
    drops and normal pinning resumes."""
    from tools.update_verified_hashes import apply_persistent_excludes

    ledger = {"q1": 1}
    rounds_old_only = [{"q1": GREEN}]
    active, new = apply_persistent_excludes(
        ledger, set(), rounds_old_only
    )
    assert active == {"q1"} and new == ledger  # old green doesn't lift
    rounds_fresh = [{"q1": GREEN}, {"q1": GREEN}]
    active2, new2 = apply_persistent_excludes(
        ledger, set(), rounds_fresh
    )
    assert active2 == set() and new2 == {}


def test_re_exclusion_resets_the_bar():
    """Excluding again (a SECOND rewrite) after a fresh green must
    require a green newer than the re-exclusion."""
    from tools.update_verified_hashes import apply_persistent_excludes

    rounds = [{"q1": GREEN}, {"q1": GREEN}]
    active, ledger = apply_persistent_excludes({}, {"q1"}, rounds)
    assert active == {"q1"} and ledger == {"q1": 2}
    active2, _ = apply_persistent_excludes(ledger, set(), rounds)
    assert active2 == {"q1"}


def _registered_source(spec):
    """What a spec's hash must cover besides its oracle: the source of
    the undecorated query function (`register`), or the SQL text
    (`register_sql`) — read from the registry wrapper's closure."""
    import inspect

    closure = inspect.getclosurevars(spec.spark_fn).nonlocals
    if "fn" in closure:
        return inspect.getsource(closure["fn"])
    return closure["sql"]


def test_impl_hash_covers_the_body_and_oracle_that_run():
    """A pin certifies what runs only if the hash is taken over the
    query's own body and its final oracle. An oracle attached after
    registration, or a hash of the registry wrapper's source, would
    let a rewrite keep its old pin."""
    from jly_flink_spark.plans import REGISTRY
    from jly_flink_spark.plans.registry import _impl_hash

    stale = sorted(
        name
        for name, spec in REGISTRY.items()
        if spec.impl_hash != _impl_hash(_registered_source(spec), spec.oracle)
    )
    assert stale == []


def test_query_spec_is_frozen():
    """Specs cannot be edited after registration, so an oracle can only
    be bound by the decorator that also hashes it."""
    import dataclasses

    import pytest

    from jly_flink_spark.plans import REGISTRY

    spec = REGISTRY["pipeline_training_corpus_v5"]
    with pytest.raises(dataclasses.FrozenInstanceError):
        spec.oracle = "SELECT 1"
    with pytest.raises(dataclasses.FrozenInstanceError):
        spec.impl_hash = ""
