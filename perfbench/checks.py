"""Correctness checks. Each takes plain Python values (ids, titles,
scores, rows), so the self-tests can feed them corrupted results
without a SparkSession. All of them run outside the timed region."""

from __future__ import annotations

import traceback

#: the corpus gate's ANN recall bar
MIN_RECALL = 0.9
_TIE_EPS = 1e-6


def ask_problems(matches: list[tuple], titles: list[str]) -> list[str]:
    """``matches`` is ask_question's ``[(id, title, score), ...]``: every
    match lies in the requested titles and scores never increase."""
    problems = [f"match {m[0]} has title {m[1]!r} outside {titles}" for m in matches if m[1] not in titles]
    scores = [m[2] for m in matches]
    if any(b > a + _TIE_EPS for a, b in zip(scores, scores[1:])):
        problems.append(f"scores increase: {scores}")
    return problems


def recall_hits(
    matches: list[tuple], own_scores: dict[str, float], exact: list[tuple], k: int
) -> tuple[int, int]:
    """(hits, wanted) of the served matches against the exact top-k
    ``[(id, score), ...]`` of the same snapshot. A served id counts if
    it is in the exact list or ties the exact k-th score, by its score
    in ``own_scores`` (computed by the benchmark, so a wrong id the
    program scores too high is still a miss; an id missing from
    ``own_scores`` is not in the snapshot and is a miss)."""
    wanted = min(k, len(exact))
    if wanted == 0:
        return 0, 0
    exact_ids = {e[0] for e in exact[:wanted]}
    kth = exact[wanted - 1][1]
    hits = sum(
        1
        for m in matches[:wanted]
        if m[0] in exact_ids or own_scores.get(m[0], float("-inf")) >= kth - _TIE_EPS
    )
    return hits, wanted


def missing_chats(acknowledged: list[int], returned: list[int]) -> list[int]:
    """Chat ids an ask acknowledged that ``chat_answers`` does not return."""
    have = set(returned)
    return [c for c in acknowledged if c not in have]


def probe_problems(rows: list[tuple], title: str) -> list[str]:
    """A freshness probe ``[(id, title), ...]`` must return chunks of the
    just-landed title and nothing else."""
    if not rows:
        return [f"probe for {title!r} returned nothing"]
    return [f"probe for {title!r} returned {r[0]} of {r[1]!r}" for r in rows if r[1] != title]


def expected_index(deliveries: list[list[dict]], deletes: list[tuple[int, str]]) -> set[tuple[str, str]]:
    """The index's ``(id, title)`` set implied by the landed files under
    stable ids: a title delivered with n single-chunk documents owns
    ids ``title_0 .. title_{n-1}``, upserts merge by id, and
    ``delete_by_form`` (recorded as ``(after_round, title)``) drops a
    title's ids."""
    owned: dict[str, set[str]] = {}
    for rnd, records in enumerate(deliveries):
        counts: dict[str, int] = {}
        for r in records:
            counts[r["FormName"]] = counts.get(r["FormName"], 0) + 1
        for title, n in counts.items():
            owned.setdefault(title, set()).update(f"{title}_{i}" for i in range(n))
        for after, title in deletes:
            if after == rnd:
                owned.pop(title, None)
    return {(i, t) for t, ids in owned.items() for i in ids}


def index_problems(actual: set[tuple[str, str]], expected: set[tuple[str, str]]) -> list[str]:
    missing, extra = expected - actual, actual - expected
    out = []
    if missing:
        out.append(f"{len(missing)} expected (id, title) rows missing, e.g. {sorted(missing)[:3]}")
    if extra:
        out.append(f"{len(extra)} unexpected (id, title) rows, e.g. {sorted(extra)[:3]}")
    return out


def curation_problems(
    input_ids: list[int], kept: list[int], culled: dict[int, str], planted: dict
) -> list[str]:
    """kept ∪ culled equals the input ids with no overlap; every planted
    exact duplicate is culled as ``exact_dup`` and every planted near
    duplicate as ``near_dup``."""
    out = []
    kept_set = set(kept)
    if len(kept_set) != len(kept):
        out.append("kept has repeated ids")
    overlap = kept_set & set(culled)
    if overlap:
        out.append(f"{len(overlap)} ids both kept and culled, e.g. {sorted(overlap)[:3]}")
    union = kept_set | set(culled)
    if union != set(input_ids):
        out.append(
            f"kept ∪ culled differs from input: {len(set(input_ids) - union)} missing, "
            f"{len(union - set(input_ids))} extra"
        )
    for kind, reason in (("exact", "exact_dup"), ("near", "near_dup")):
        wrong = [i for i in planted[kind] if culled.get(i) != reason]
        if wrong:
            out.append(f"{len(wrong)} planted {kind} duplicates not culled as {reason}, e.g. {wrong[:3]}")
    return out


def rows_problems(spark_cols, spark_rows, oracle_cols, oracle_rows) -> list[str]:
    """A drain's result against its DuckDB oracle, compared as the
    corpus gate compares them (``canon_rows``: column-order and
    row-order insensitive, type-sensitive values)."""
    from tools.check_corpus import canon_rows

    if sorted(spark_cols) != sorted(oracle_cols):
        return [f"columns {sorted(spark_cols)} != oracle {sorted(oracle_cols)}"]
    if len(spark_rows) != len(oracle_rows):
        return [f"{len(spark_rows)} rows != oracle {len(oracle_rows)}"]
    if canon_rows(spark_cols, spark_rows) != canon_rows(oracle_cols, oracle_rows):
        return ["values differ from the oracle"]
    return []


def failure() -> str:
    """The exception being handled, with its innermost frames: what a
    failed op records before the run moves on."""
    return traceback.format_exc(limit=-3)[-1500:]
