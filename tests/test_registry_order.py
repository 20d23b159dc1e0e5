"""The driver correctness-checks a 50-query PREFIX of ``load_all()``
(observed r1+r2), so ordering IS evidence strategy: stale-plan queries
first, never-driver-verified next, verified last.  Pin that contract.
"""

from __future__ import annotations

import pytest

from big_data_lab_three_spark import queries
from big_data_lab_three_spark.queries import (
    _FORCE_FRONT,
    REGISTRY,
    _driver_verified,
    _evidence_rounds,
    load_all,
)


def test_every_query_listed_exactly_once():
    names = list(load_all())
    assert sorted(names) == sorted(REGISTRY)
    assert len(names) == len(set(names))


def test_registry_size_is_pinned():
    """The registry cannot shrink (or grow) unnoticed: a query module
    that stops importing, or a dropped ``@register``, fails here."""
    assert len(load_all()) == 277


def test_missing_query_module_fails_loud(monkeypatch):
    """A name in ``_MODULES`` that does not import must raise, not
    silently drop that module's queries from the registry."""
    monkeypatch.setattr(
        queries,
        "_MODULES",
        queries._MODULES + ("big_data_lab_three_spark.queries.no_such",),
    )
    with pytest.raises(ModuleNotFoundError):
        load_all()


def test_force_front_leads():
    names = list(load_all())
    expect = [n for n in _FORCE_FRONT if n in REGISTRY]
    assert names[: len(expect)] == expect


def test_unverified_precede_verified():
    """Outside the forced prefix, no driver-verified name may sit in
    front of a never-verified one — that would waste a driver slot on
    evidence we already have."""
    verified = _driver_verified()
    names = [n for n in load_all() if n not in _FORCE_FRONT]
    seen_verified = False
    for n in names:
        if n in verified:
            seen_verified = True
        else:
            assert not seen_verified, (
                f"unverified {n!r} ordered after a verified name"
            )


def test_unverified_names_respect_module_import_order():
    """The registration-order contract (extras module docstring): each
    round's NEWEST query module imports last in ``_MODULES``, so that
    registering a query mid-round sorts it after every older
    never-driver-verified name and cannot displace a queued name out of
    the driver's 50-name prefix.  Pin the observable consequence: among
    never-verified names (outside the forced prefix), positions must be
    monotone in the registering module's import index.  (Once a round's
    CORRECTNESS record verifies the older names, later-module entries
    entering the prefix is the intended drain behavior.)"""
    from big_data_lab_three_spark.queries import _MODULES

    mod_index = {m: i for i, m in enumerate(_MODULES)}
    verified = _driver_verified()
    unverified = [
        n
        for n in load_all()
        if n not in _FORCE_FRONT and n not in verified
    ]
    if not unverified:
        # Drained pool: every registered name has driver evidence (the
        # r7 record verified all 202).  The ordering property is
        # vacuously true; it re-arms automatically the moment a new
        # query registers without a CORRECTNESS row.
        return
    indices = [
        mod_index[getattr(REGISTRY[n].spark, "__module__", "")]
        for n in unverified
    ]
    assert indices == sorted(indices), (
        "never-verified names out of module import order: "
        f"{[n for n, a, b in zip(unverified, indices, sorted(indices)) if a != b]}"
    )


def test_verified_tail_rotates_by_evidence_age():
    """r12 verdict item 3: within the all-verified tail, names must
    sort oldest-driver-evidence-first so the driver's 50-name prefix
    refreshes the stalest CORRECTNESS records each round rather than
    re-proving the same registration-order first-50 forever."""
    evidence = _evidence_rounds()
    verified = _driver_verified()
    tail = [
        n
        for n in load_all()
        if n not in _FORCE_FRONT and n in verified
    ]
    ages = [evidence[n] for n in tail]
    assert ages == sorted(ages), (
        "verified tail not ordered oldest-evidence-first: "
        f"{[n for n, a, b in zip(tail, ages, sorted(ages)) if a != b][:5]}"
    )


def test_queued_names_fit_in_driver_prefix():
    """The displacement tripwire the module-order invariant alone can't
    provide: if the stale-plan + never-verified pool ever exceeds the
    driver's 50-name prefix, some queued query would silently never get
    driver-verified.  Fail loudly instead — the fix is to stop adding
    names (or to re-home additions into the last module) until a round
    record drains the pool."""
    verified = _driver_verified()
    queued = [n for n in _FORCE_FRONT if n in REGISTRY] + [
        n
        for n in REGISTRY
        if n not in verified and n not in _FORCE_FRONT
    ]
    assert len(queued) <= 50, (
        f"{len(queued)} queued names exceed the 50-name driver prefix: "
        f"the overflow would never be verified — {queued[50:]}"
    )


def test_evidence_rounds_compare_parsed_round_numbers(tmp_path):
    """'Latest wins' must compare PARSED round numbers, not filename
    lexicographic order: an unpadded r9 vs r10, and r100 vs r11, must
    resolve to the numerically-latest record (review finding r13)."""
    import json

    def write(rnd_name, rows):
        (tmp_path / f"CORRECTNESS_{rnd_name}.json").write_text(
            json.dumps(rows)
        )

    green = {"rows_match": True, "schema_match": True, "hash_match": True}
    red = {**green, "hash_match": False}
    # r9 (unpadded, lexicographically LAST) green; r10 records failure:
    # the numerically-later r10 failure must win -> re-verify (-1)
    write("r9", {"q1": green})
    write("r10", {"q1": red})
    # r11 green; r100 (lexicographically BEFORE r11) records failure:
    # numerically-later r100 must win
    write("r11", {"q2": green})
    write("r100", {"q2": red})
    # and the symmetric case: later pass clears an earlier failure
    write("r8", {"q3": red})
    write("r12", {"q3": green})
    got = _evidence_rounds(str(tmp_path))
    assert got["q1"] == -1
    assert got["q2"] == -1
    assert got["q3"] == 12
