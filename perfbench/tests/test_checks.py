"""The benchmark's correctness checks must catch corrupted results."""

from __future__ import annotations

import random
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench import checks, data  # noqa: E402


# -- ask ------------------------------------------------------------------


def test_ask_accepts_ordered_in_title_matches():
    matches = [("1", "src1", 0.9), ("2", "src5", 0.8)]
    assert checks.ask_problems(matches, ["src1", "src5"]) == []


def test_ask_flags_title_outside_request_and_rising_scores():
    assert checks.ask_problems([("1", "src2", 0.9)], ["src1"])
    assert checks.ask_problems([("1", "src1", 0.5), ("2", "src1", 0.7)], ["src1"])


def test_recall_counts_a_dropped_match():
    exact = [("1", 0.9), ("2", 0.8)]
    full = [("1", "a", 0.9), ("2", "a", 0.8)]
    own = {"1": 0.9, "2": 0.8}
    assert checks.recall_hits(full, own, exact, 2) == (2, 2)
    assert checks.recall_hits(full[:1], own, exact, 2) == (1, 2)


def test_recall_accepts_a_tie_at_the_kth_score():
    exact = [("1", 0.9), ("2", 0.8)]
    assert checks.recall_hits([("1", "a", 0.9), ("3", "a", 0.8)], {"1": 0.9, "3": 0.8}, exact, 2) == (2, 2)
    assert checks.recall_hits([("1", "a", 0.9), ("3", "a", 0.7)], {"1": 0.9, "3": 0.7}, exact, 2) == (1, 2)


def test_recall_scores_served_ids_itself():
    exact = [("1", 0.9), ("2", 0.8)]
    # the program reports the wrong id "3" with an inflated score
    served = [("1", "a", 0.9), ("3", "a", 0.85)]
    assert checks.recall_hits(served, {"1": 0.9, "3": 0.4}, exact, 2) == (1, 2)
    # an id that is not in the snapshot at all
    assert checks.recall_hits(served, {"1": 0.9}, exact, 2) == (1, 2)


def test_missing_chat_row_is_reported():
    assert checks.missing_chats([1, 2, 3], [3, 2, 1]) == []
    assert checks.missing_chats([1, 2, 3], [3, 1]) == [2]


# -- ingest ---------------------------------------------------------------


def test_probe_needs_rows_of_the_landed_title_only():
    assert checks.probe_problems([("t_0", "t")], "t") == []
    assert checks.probe_problems([], "t")
    assert checks.probe_problems([("t_0", "t"), ("u_0", "u")], "t")


def test_expected_index_merges_redeliveries_and_applies_deletes():
    r0 = [{"FormName": "a"}] * 3 + [{"FormName": "b"}] * 2
    r1 = [{"FormName": "a"}] * 1 + [{"FormName": "c"}] * 2
    r2 = [{"FormName": "b"}] * 1
    got = checks.expected_index([r0, r1, r2], [(1, "b")])
    assert got == {("a_0", "a"), ("a_1", "a"), ("a_2", "a"), ("c_0", "c"), ("c_1", "c"), ("b_0", "b")}


def test_index_mismatch_is_reported_both_ways():
    want = {("a_0", "a"), ("a_1", "a")}
    assert checks.index_problems(want, want) == []
    assert checks.index_problems({("a_0", "a")}, want)
    assert checks.index_problems(want | {("z_0", "z")}, want)


# -- curate ---------------------------------------------------------------


def _curation_case():
    planted = {"exact": [10], "near": [11], "filtered": [3]}
    ids = list(range(12))
    kept = [i for i in ids if i not in (3, 10, 11)]
    culled = {3: "lang", 10: "exact_dup", 11: "near_dup"}
    return ids, kept, culled, planted


def test_curation_accepts_a_correct_partition():
    assert checks.curation_problems(*_curation_case()) == []


def test_curation_flags_an_extra_kept_duplicate():
    ids, kept, culled, planted = _curation_case()
    del culled[10]
    assert checks.curation_problems(ids, kept + [10], culled, planted)


def test_curation_flags_wrong_reason_overlap_and_lost_ids():
    ids, kept, culled, planted = _curation_case()
    assert checks.curation_problems(ids, kept, {**culled, 11: "exact_dup"}, planted)
    assert checks.curation_problems(ids, kept + [3], culled, planted)
    assert checks.curation_problems(ids, kept[1:], culled, planted)


# -- drain ----------------------------------------------------------------


def test_rows_match_ignores_row_and_column_order():
    rows = [("view", 3), ("buy", 5)]
    swapped = [(5, "buy"), (3, "view")]
    assert checks.rows_problems(["t", "n"], rows, ["n", "t"], swapped) == []


def test_off_by_one_oracle_row_is_caught():
    rows = [("view", 3), ("buy", 5)]
    assert checks.rows_problems(["t", "n"], rows, ["t", "n"], [("view", 3), ("buy", 6)])
    assert checks.rows_problems(["t", "n"], rows, ["t", "n"], rows[:1])
    assert checks.rows_problems(["t", "n"], rows, ["t", "m"], rows)


# -- inputs ---------------------------------------------------------------


def test_inputs_are_a_function_of_the_seed():
    assert data.documents(7, 50, 4) == data.documents(7, 50, 4)
    assert data.documents(7, 50, 4) != data.documents(8, 50, 4)
    assert data.curation_corpus(7, 200, 5, 5) == data.curation_corpus(7, 200, 5, 5)
    a = data.ingest_round(random.Random(3), data.vocabulary(random.Random(3)), 1, ["x"], 20)
    b = data.ingest_round(random.Random(3), data.vocabulary(random.Random(3)), 1, ["x"], 20)
    assert a == b and len(a) == 20


def test_planted_duplicates_reference_passing_documents():
    rows, planted = data.curation_corpus(1, 300, 5, 5)
    by_id = {r["doc_id"]: r["text"] for r in rows}
    assert len(rows) == 310
    for i in planted["exact"]:
        assert " ".join(by_id[i].lower().split()) in {" ".join(t.split()) for t in by_id.values() if t != by_id[i]}
    assert not set(planted["filtered"]) & set(planted["exact"] + planted["near"])
