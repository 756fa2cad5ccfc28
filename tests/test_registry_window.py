"""Driver correctness-window invariants: the first 50 registry entries
(the slice the driver verifies each round) must be exactly the queries
that still need a green CORRECTNESS row, minus the explicit defer list.
"""

WINDOW = 50


def test_unverified_queries_fill_the_driver_window():
    from otus_cpp_11_spark.registry import (
        DRIVER_VERIFIED,
        WINDOW_DEFER,
        all_queries,
    )

    names = list(all_queries())
    first = set(names[:WINDOW])
    want_first = {
        n for n in names if n not in DRIVER_VERIFIED and n not in WINDOW_DEFER
    }
    assert want_first <= first, sorted(want_first - first)
    # the window never wastes slots on already-verified queries while
    # unverified ones wait (defers excluded by intent)
    overflow = len(want_first) > WINDOW
    if not overflow:
        spill = first - want_first
        assert all(n in WINDOW_DEFER or n in DRIVER_VERIFIED for n in spill)

    # defer list only names real, currently-unverified queries
    assert WINDOW_DEFER <= set(names)
    assert not (WINDOW_DEFER & set(DRIVER_VERIFIED))


def test_driver_verified_hashes_match_current_source():
    """A green driver row certifies the CODE it ran, not the name: every
    DRIVER_VERIFIED entry records the source hash at green time, and this
    test recomputes it — edit a verified query's impl or rendered oracle
    and the entry must leave the dict (re-queueing the query into the
    driver's verification window) before the suite goes green again."""
    from otus_cpp_11_spark.registry import (
        DRIVER_VERIFIED,
        all_queries,
        query_source_hash,
    )

    qs = all_queries()
    stale = {
        name: (recorded, query_source_hash(qs[name]))
        for name, recorded in DRIVER_VERIFIED.items()
        if query_source_hash(qs[name]) != recorded
    }
    assert not stale, (
        "impl/oracle changed since driver verification — remove these from "
        f"DRIVER_VERIFIED to re-queue them: {stale}"
    )


def test_prefix_pin_covers_the_fold_and_stitch():
    """The registered prefix query's answer is decided in the fold and
    stitch helpers two calls down; editing either must drift its pin."""
    import inspect

    from otus_cpp_11_spark import prefix
    from otus_cpp_11_spark.registry import _helper_closure_sources, all_queries

    closure = _helper_closure_sources(all_queries()["prefix_min_unique_len"].fn)
    for helper in (prefix._fold_sorted, prefix._stitch, prefix._lcp):
        assert inspect.getsource(helper) in closure, helper.__name__
