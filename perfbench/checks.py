"""Result checks.  Each returns a list of mismatch messages; empty means
the output is correct.  Scores compare bit for bit, except in
``close_topk``."""

from __future__ import annotations

import math
import struct


def _bits(score: float) -> str:
    return struct.pack(">d", score).hex()


def topk_key(rows) -> list[tuple[str, str]]:
    """(doc_id, score bits) in the engine's rank order: score desc, doc_id asc."""
    ranked = sorted(((r["doc_id"], r["score"]) for r in rows),
                    key=lambda t: (-t[1], t[0]))
    return [(d, _bits(s)) for d, s in ranked]


def same_topk(got, want, what: str) -> list[str]:
    g, w = topk_key(got), topk_key(want)
    if g == w:
        return []
    n_diff = sum(1 for a, b in zip(g, w) if a != b) + abs(len(g) - len(w))
    return [f"{what}: {n_diff} of {max(len(g), len(w))} ranks differ "
            f"(got {len(g)} rows, want {len(w)})"]


def close_topk(got, want, what: str, rel_tol: float = 1e-12) -> list[str]:
    """The same top-k up to floating-point summation order: every doc in
    both has the same score within ``rel_tol``, and a doc in only one of
    them scores within ``rel_tol`` of the cut-off, where a rounding
    difference can move it across.  Near-tied docs may swap ranks."""
    g = {r["doc_id"]: r["score"] for r in got}
    w = {r["doc_id"]: r["score"] for r in want}
    if len(g) != len(w):
        return [f"{what}: got {len(g)} rows, want {len(w)}"]
    bad = [d for d in g.keys() & w.keys()
           if not math.isclose(g[d], w[d], rel_tol=rel_tol)]
    if g:
        cut = min(min(g.values()), min(w.values()))
        bad += [d for d in g.keys() ^ w.keys()
                if not math.isclose(g.get(d, w.get(d)), cut, rel_tol=rel_tol)]
    if bad:
        return [f"{what}: {len(bad)} of {len(w)} docs differ, e.g. {sorted(bad)[0]}"]
    return []


def split_batch(rows, n_queries: int) -> list[list]:
    """Rows of ``bm25_wand_search_many`` grouped by their ``qid``."""
    out: list[list] = [[] for _ in range(n_queries)]
    for r in rows:
        out[r["qid"]].append(r)
    return out


def newest_version_per_url(docs_rows, expected_ts: dict) -> list[str]:
    """Exactly one docs row per URL, and it carries the newest ``warc_ts``
    sent for that URL."""
    seen: dict[str, list] = {}
    for r in docs_rows:
        seen.setdefault(r["url"], []).append(r["warc_ts"])
    bad = []
    dup = [u for u, ts in seen.items() if len(ts) != 1]
    if dup:
        bad.append(f"{len(dup)} urls have more than one docs row, e.g. {dup[0]}")
    missing = sorted(set(expected_ts) - set(seen))
    if missing:
        bad.append(f"{len(missing)} urls missing from docs, e.g. {missing[0]}")
    extra = sorted(set(seen) - set(expected_ts))
    if extra:
        bad.append(f"{len(extra)} unexpected urls in docs, e.g. {extra[0]}")
    stale = [u for u, ts in seen.items()
             if u in expected_ts and len(ts) == 1 and ts[0] != expected_ts[u]]
    if stale:
        bad.append(f"{len(stale)} urls carry a stale warc_ts, e.g. {stale[0]}")
    return bad
