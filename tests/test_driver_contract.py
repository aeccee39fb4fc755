"""Driver-contract invariants for __spark_entry__ (no Spark session):
the rotating 50-query driver window, oracle coverage, and name hygiene.

The round driver executes and ledgers only the FIRST 50 registered
queries; queries() rotates which 40 of the 80 non-pinned queries occupy
slots 11-50 by round parity so every query is driver-witnessed at least
every other round. These tests pin that policy for BOTH parities.
"""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

DRIVER_WINDOW = 50

ROWS_ONLY = {
    "serve_requests",
    "pipeline_seq2seq",
    "pipeline_mentions",
    "minhash_dedup_pairs",
    "pipeline_windows",
    "pipeline_triples",
    "pipeline_span_eval",
    "pipeline_np_model",
}


def _entry():
    if "_spark_entry_module" in sys.modules:
        return sys.modules["_spark_entry_module"]
    spec = importlib.util.spec_from_file_location(
        "_spark_entry_module",
        Path(__file__).resolve().parent.parent / "__spark_entry__.py",
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    sys.modules["_spark_entry_module"] = mod
    return mod


def _queries_at(monkeypatch, round_index: int) -> list[str]:
    e = _entry()
    monkeypatch.setattr(e, "_driver_round_index", lambda: round_index)
    return list(e.queries())


def test_rotation_partition_is_exact():
    """Pinned + the two rotation halves partition the registry: no
    dups, no strays, sizes 6/44/44 (windows of exactly 50), warmup
    absorber first, pinned all oracle-backed, rows-only grouped at the
    tail of the even half."""
    e = _entry()
    o = set(e.oracle_sql())
    assert len(e._PINNED) == 6
    assert len(e._POOL_EVEN) == 44 and len(e._POOL_ODD) == 44
    assert len(e._PINNED) + len(e._POOL_EVEN) == DRIVER_WINDOW
    names = e._PINNED + e._POOL_EVEN + e._POOL_ODD
    assert len(names) == len(set(names)) == 94
    assert e._PINNED[0] == "scan_filter_project"
    assert set(e._PINNED) <= o and set(e._POOL_ODD) <= o
    # rows-only entries live ONLY in the even half, contiguous at its
    # tail (wall-budget truncation drops them before any oracle query)
    assert set(e._POOL_EVEN[-len(ROWS_ONLY):]) == ROWS_ONLY
    assert not (set(e._POOL_EVEN[: -len(ROWS_ONLY)]) & ROWS_ONLY)


def test_every_oracle_has_a_query_and_no_stale_oracles():
    e = _entry()
    q = set(e.queries())
    o = set(e.oracle_sql())
    assert o <= q, sorted(o - q)
    assert q - o == ROWS_ONLY


def test_window_rotation_covers_everything_every_two_rounds(monkeypatch):
    e = _entry()
    even = _queries_at(monkeypatch, 4)
    odd = _queries_at(monkeypatch, 5)
    # both orders enumerate the full registry (bench & tools look up by
    # name; nothing is ever dropped, only reordered)
    assert set(even) == set(odd) and len(even) == 94
    # pinned core occupies slots 1-14 every round
    n_pin = len(e._PINNED)
    assert even[:n_pin] == odd[:n_pin] == e._PINNED
    # consecutive-round windows cover the whole registry
    assert set(even[:DRIVER_WINDOW]) | set(odd[:DRIVER_WINDOW]) == set(even)
    # each round's window = pinned + exactly one rotation half
    assert even[n_pin:DRIVER_WINDOW] == e._POOL_EVEN
    assert odd[n_pin:DRIVER_WINDOW] == e._POOL_ODD


def test_rows_only_never_precede_oracle_queries_in_window(monkeypatch):
    """Within the driver's 50-slot window, every oracle-backed query
    runs before any rows-only one, both parities — a wall-budget
    truncation can only ever cost rows-only ledger rows."""
    e = _entry()
    o = set(e.oracle_sql())
    for idx in (0, 1, 4, 5):
        window = _queries_at(monkeypatch, idx)[:DRIVER_WINDOW]
        flags = [name in o for name in window]
        if False in flags:
            first_rows_only = flags.index(False)
            assert not any(flags[first_rows_only:]), (
                f"round index {idx}: oracle-backed query after a "
                "rows-only one inside the driver window"
            )


def test_round5_window_includes_round4_unwitnessed_queries(monkeypatch):
    """Under even parity (pinned at round index 4, like the sibling
    rotation test — NOT read from the mutable on-disk ledger count,
    which the driver's own CORRECTNESS writes advance every round),
    the round-4-unwitnessed queries must be in-window."""
    window = _queries_at(monkeypatch, 4)[:DRIVER_WINDOW]
    for name in ("bgp_path", "kg_rules", "tpch_q1", "minhash_recall",
                 "ann_recall", "serve_status", "pipeline_triples",
                 "serve_requests"):
        assert name in window, name


def test_both_parities_pass_window_contracts(monkeypatch):
    """Meta-check: under BOTH parities the window layout holds — pinned
    prefix, one full rotation half, oracle-before-rows-only — so no
    future ledger write can flip the suite red again."""
    e = _entry()
    o = set(e.oracle_sql())
    n_pin = len(e._PINNED)
    for idx in (4, 5):
        order = _queries_at(monkeypatch, idx)
        assert order[:n_pin] == e._PINNED
        half = e._POOL_EVEN if idx % 2 == 0 else e._POOL_ODD
        assert order[n_pin:DRIVER_WINDOW] == half
        flags = [name in o for name in order[:DRIVER_WINDOW]]
        if False in flags:
            assert not any(flags[flags.index(False):])


def test_query_names_are_stable_identifiers():
    e = _entry()
    for name in e.queries():
        assert name.isidentifier() and name == name.lower()


def test_live_round_index_window_keeps_oracle_first():
    """Unpatched: the real ledger-count read returns an int and the live
    window still runs every oracle-backed query before any rows-only one."""
    e = _entry()
    idx = e._driver_round_index()
    assert isinstance(idx, int) and idx >= 0
    o = set(e.oracle_sql())
    window = list(e.queries())[:DRIVER_WINDOW]
    assert window[: len(e._PINNED)] == e._PINNED
    flags = [name in o for name in window]
    if False in flags:
        assert not any(flags[flags.index(False):])


def test_check_oracles_rejects_unknown_query_names():
    """A mistyped query name fails the oracle sweep (before any Spark
    session starts) instead of checking nothing and passing."""
    import subprocess

    root = Path(__file__).resolve().parent.parent
    out = subprocess.run(
        [sys.executable, str(root / "tools" / "check_oracles.py"),
         "/nonexistent", "sparql_select", "sparql_selcet"],
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert "unknown queries: ['sparql_selcet']" in out.stdout
    assert "ALL OK" not in out.stdout
