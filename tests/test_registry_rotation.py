"""Structural guarantee for the driver-window rotation (VERDICT r8 items 1-2).

Rounds 2-8 rotated ``registry._CHECK_FIRST`` by hand each round and three
consecutive verdicts carried the "not rotated yet" landmine. Since round 9
the window is DERIVED from the ``CORRECTNESS_r*.json`` evidence files, so
these tests pin the property that makes the landmine impossible: a name
with green driver evidence can never occupy a window slot while a
never-checked (or red-checked) name waits outside it.
"""

from __future__ import annotations

import json

from ab_inbev_big_data_case_spark import registry


def _loaded():
    registry.load_all()
    return list(registry.QUERIES)


def test_window_prefers_unchecked_over_checked():
    order = _loaded()
    ev = registry._evidence_rounds()
    window = order[: registry._WINDOW_SIZE]
    outside = order[registry._WINDOW_SIZE :]
    # No green-checked name sits in the window while a never-checked name
    # waits outside it.
    unchecked_outside = [n for n in outside if n not in ev]
    checked_inside = [n for n in window if n in ev]
    assert not (unchecked_outside and checked_inside), (
        f"window holds checked names {checked_inside[:5]} while "
        f"{unchecked_outside[:5]} were never driver-checked"
    )


def test_window_matches_check_first_attribute():
    order = _loaded()
    assert registry._CHECK_FIRST == order[: registry._WINDOW_SIZE]
    assert len(registry._CHECK_FIRST) == min(
        registry._WINDOW_SIZE, len(order)
    )


def test_checked_tail_is_oldest_evidence_first():
    """Within each bucket greens are oldest-evidence-first; changed names
    (bucket 1, VERDICT r11 item 1) precede every unchanged green
    regardless of evidence age."""
    order = _loaded()
    ev = registry._evidence_rounds()
    changed = registry.changed_since_checked()
    changed_rounds = [ev[n] for n in order if n in ev and n in changed]
    unchanged_rounds = [ev[n] for n in order if n in ev and n not in changed]
    assert changed_rounds == sorted(changed_rounds)
    assert unchanged_rounds == sorted(unchanged_rounds)
    if changed_rounds:
        greens = [
            (n in changed) for n in order if n in ev and ev[n] != -1
        ]
        # all changed greens precede all unchanged greens
        first_unchanged = greens.index(False)
        assert not any(greens[first_unchanged:]), (
            "a changed name sits behind an unchanged green"
        )


def test_rotation_is_deterministic():
    first = _loaded()
    second = _loaded()
    assert first == second


def test_red_row_reenters_window(tmp_path):
    """A red correctness row must NOT count as evidence: the name re-enters
    the never-checked head so the next driver window re-verifies the fix."""
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps(
            {
                "green_q": {
                    "rows_match": True,
                    "schema_match": True,
                    "hash_match": True,
                    "err": None,
                },
                "red_q": {
                    "rows_match": True,
                    "schema_match": False,
                    "hash_match": False,
                    "err": None,
                },
                "errored_q": {
                    "rows_match": False,
                    "schema_match": False,
                    "hash_match": False,
                    "err": "AnalysisException",
                },
            }
        )
    )
    ev = registry._evidence_rounds(str(tmp_path))
    assert ev == {"green_q": 1}


def test_regression_after_green_demotes_to_unchecked(tmp_path):
    """ADVICE r9 (medium): a name green in round N but RED in a later round
    M>N is a regression — it must map to the never-checked bucket (-1), not
    keep its stale round-N green age, so the next window re-verifies it."""
    green = {
        "rows_match": True,
        "schema_match": True,
        "hash_match": True,
        "err": None,
    }
    red = dict(green, hash_match=False)
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"stable_q": green, "regressed_q": green})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"regressed_q": red, "recovered_q": red})
    )
    (tmp_path / "CORRECTNESS_r03.json").write_text(
        json.dumps({"recovered_q": green})
    )
    ev = registry._evidence_rounds(str(tmp_path))
    # regressed_q's latest row is red -> -1 (ahead of every green);
    # recovered_q's latest row is green -> its recovery round stands.
    assert ev == {"stable_q": 1, "regressed_q": -1, "recovered_q": 3}


def test_future_evidence_demotes_window(tmp_path):
    """Simulate the NEXT round's evidence landing: every name it covers
    must drop out of the derived window — i.e. the round-6/7/8 landmine
    (stale window re-checked) is structurally impossible."""
    order = _loaded()
    window = order[: registry._WINDOW_SIZE]
    # Write a fake next-round file that greens the current window, layered
    # on top of the real evidence set.
    ev = dict(registry._evidence_rounds())
    next_round = max(ev.values(), default=0) + 1
    for n in window:
        ev[n] = next_round
    reordered = registry._derive_order(order, ev)
    new_window = reordered[: registry._WINDOW_SIZE]
    assert not set(new_window) & set(window) or all(
        n in ev for n in reordered
    ), "freshly-greened names re-occupied window slots ahead of staler ones"
    # The new window is exactly the 50 stalest of the updated evidence map.
    staleness = sorted(order, key=lambda n: ev.get(n, -1))
    cutoff = ev.get(staleness[registry._WINDOW_SIZE - 1], -1)
    assert all(ev.get(n, -1) <= cutoff for n in new_window)


def test_evidence_files_exist_and_parse():
    ev = registry._evidence_rounds()
    # r1-r8 driver history: hundreds of green names, none in the future.
    assert len(ev) > 300
    assert max(ev.values()) >= 8


def test_changed_name_outranks_stale_greens():
    """VERDICT r11 item 1: a name whose implementation/oracle content hash
    changed since its last driver check must enter the window ahead of
    every unchanged green (but behind never-checked names)."""
    ev = {"never_q": -1, "stale_green": 3, "changed_green": 11, "fresh_green": 11}
    order = registry._derive_order(
        ["fresh_green", "stale_green", "changed_green", "never_q"],
        ev,
        changed=frozenset({"changed_green"}),
    )
    assert order == ["never_q", "changed_green", "stale_green", "fresh_green"]


def test_ties_keep_registration_order():
    """Names in one bucket with the same evidence round come out in the
    order they were registered, in every bucket; no hand-kept list
    reorders them."""
    ev = {"g2": 5, "c2": 9, "n2": -1, "g1": 5, "c1": 9, "n1": -1, "old": 3}
    order = registry._derive_order(
        ["g2", "c2", "n2", "g1", "c1", "n1", "old"],
        ev,
        changed=frozenset({"c1", "c2"}),
    )
    assert order == ["n2", "n1", "c2", "c1", "old", "g2", "g1"]


def test_changed_since_checked_detects_live_edits():
    """The real registry: changed_since_checked() must flag exactly the
    names whose current query_hash differs from QUERY_HASHES.json — and
    the derived window must hold the HIGHEST-priority slice of the
    never-checked + changed backlog. When that backlog exceeds the window
    capacity (an optimization round editing shared helpers can re-flag
    >50 symbol closures at once — r16 did), the overflow legitimately
    spills to the next round; what must NEVER happen is an unchanged
    green occupying a slot while a changed green waits outside."""
    registry.load_all()
    rec = registry.recorded_hashes()
    if not rec:  # hash file not seeded in this checkout
        import pytest

        pytest.skip("QUERY_HASHES.json absent")
    changed = registry.changed_since_checked()
    for n in changed:
        assert rec[n] != registry.query_hash(n)
    ev = registry._evidence_rounds()
    window = set(registry._CHECK_FIRST)
    changed_green = {n for n in changed if n in ev and ev[n] != -1}
    never_checked = {n for n in registry.QUERIES if ev.get(n, -1) == -1}
    backlog = changed_green | never_checked
    if len(backlog) <= len(registry._CHECK_FIRST):
        missing = changed_green - window
        assert not missing, (
            f"changed names with green evidence left outside the driver "
            f"window despite free capacity: {sorted(missing)}"
        )
    else:
        # over-capacity: every window slot must be backlog (no unchanged
        # green may jump the queue)
        squatters = window - backlog
        assert not squatters, (
            f"unchanged greens inside the window while changed/never-"
            f"checked names wait: {sorted(squatters)}"
        )
        # never-checked names outrank changed greens; the changed greens
        # take every slot the never-checked ones leave over
        cap = len(registry._CHECK_FIRST)
        n_never = min(len(never_checked), cap)
        assert len(window & never_checked) == n_never
        assert len(window & changed_green) == min(len(changed_green), cap - n_never), (
            f"changed greens left outside the window's free slots: "
            f"{sorted(changed_green - window)[:10]}"
        )


def test_query_hash_tracks_helper_symbol_content(monkeypatch):
    """The r11 gap case: a query whose BODY references an engine helper
    must change hash when that helper's source changes, even if the query
    function source is untouched. semdedup_corpus imports semdedup_cells
    from llm.similarity inside its body; poisoning that symbol's closure
    hash (what a real edit to the function would do) must flow through."""
    registry.load_all()
    name = "semdedup_corpus"
    fn = getattr(registry.QUERIES[name], "__wrapped__")
    deps = registry._fn_engine_deps(fn)
    key = ("ab_inbev_big_data_case_spark.llm.similarity", "semdedup_cells")
    assert key in [(m, s) for m, s in deps], deps
    h0 = registry.query_hash(name)
    registry._symbol_hash(*key)  # ensure the cache entry exists, then poison
    monkeypatch.setitem(registry._symbol_hash_cache, key, "0" * 64)
    h1 = registry.query_hash(name)
    assert h0 != h1


def test_segmenter_matches_get_source_segment(monkeypatch):
    """``_module_info`` slices each top-level def and assign out of its
    module by node offsets, with line starts found once per module; every
    slice of every package module must equal ``ast.get_source_segment``.
    The offsets count UTF-8 bytes and the modules hold non-ASCII text
    (×, Σ, →), so some slices must contain it."""
    import ast
    import functools
    import glob
    import os

    if hasattr(ast, "_splitlines_no_ff"):
        # The stdlib re-splits the whole text on every call; memoizing that
        # pure split leaves the reference unchanged and the test fast.
        monkeypatch.setattr(
            ast, "_splitlines_no_ff", functools.lru_cache(maxsize=1)(ast._splitlines_no_ff)
        )
    kinds = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef, ast.Assign)
    n = n_non_ascii = 0
    pkg = os.path.join(registry._REPO_ROOT, registry._PKG)
    # plus a text whose nodes END on non-ASCII lines, with CRLF line ends
    texts = [("<crlf>", 'X = "Σ→×"\r\ndef f():\r\n    return "×"  # Σ\r\nY = 1\r\n')]
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        with open(path) as f:
            texts.append((path, f.read()))
    for path, text in texts:
        segment = registry._segmenter(text)
        for node in ast.parse(text).body:
            if isinstance(node, kinds):
                got = segment(node)
                assert got == ast.get_source_segment(text, node), (path, node.lineno)
                n += 1
                n_non_ascii += not got.isascii()
    assert n > 1000 and n_non_ascii > 0, (n, n_non_ascii)
