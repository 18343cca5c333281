"""Output checks against the planted truth, run outside the timed window.

Each check returns ``(dup_recall, problems)``; an empty problem list means
``output_ok``. A planted copy counts as recalled when the tier meant to
find it (exact, near or substring) reports it with its original, so a
loss in one tier is not hidden by another tier finding the same pair.
``corrupt=True`` damages the output first, so the smoke test can prove
each check rejects a wrong answer.
"""

from __future__ import annotations

from collections import defaultdict

from perfbench.gen import Truth


def _corrupt_groups(groups: dict[tuple, set[str]], truth: Truth) -> None:
    """Move one exact-family member into a different family's group."""
    fams = [urls for urls in truth.exact.values() if len(urls) > 1]
    victim, host = fams[0][-1], fams[1][0]
    for members in groups.values():
        members.discard(victim)
    for members in groups.values():
        if host in members:
            members.add(victim)
            break


def check_batch(
    memberships: list[tuple[str, str, str]],
    edges: list[tuple[str, str, str]],
    truth: Truth,
    corrupt: bool = False,
) -> tuple[float, list[str]]:
    """memberships: (url, tier, group); edges: (url_a, url_b, tier)."""
    groups: dict[tuple, set[str]] = defaultdict(set)
    for url, tier, group in memberships:
        groups[(tier, group)].add(url)
    if corrupt:
        _corrupt_groups(groups, truth)
    of_url: dict[str, set[tuple]] = defaultdict(set)
    for key, urls in groups.items():
        for u in urls:
            of_url[u].add(key)

    problems = []
    for fam, urls in truth.exact.items():
        keys = {k for u in urls for k in of_url[u] if k[0] == "exact"}
        if len(keys) != 1 or groups[next(iter(keys))] != set(urls):
            problems.append(f"exact family {fam} is not exactly one group")
    for key, urls in groups.items():
        fams = {truth.family.get(u, u) for u in urls}
        if len(fams) > 1:
            problems.append(f"group {key} joins {len(fams)} planted families")
    for a, b, tier in edges:
        if truth.family.get(a, a) != truth.family.get(b, b):
            problems.append(f"{tier} edge {a} -- {b} joins two planted families")
    found = sum(
        1
        for c, (o, tier) in truth.dups.items()
        if any(k[0] == tier for k in of_url[c] & of_url[o])
    )
    return found / len(truth.dups), problems[:20]


def check_stream(
    reported: list[tuple[str, str, str]],
    truth: Truth,
    corrupt: bool = False,
) -> tuple[float, list[str]]:
    """reported: (url, matched_url, tier) from the stream's dup tables."""
    if corrupt:  # re-point the first report at a doc of another family
        url, _, tier = reported[0]
        other = next(u for u, f in truth.family.items() if f != truth.family[url])
        reported = [(url, other, tier)] + reported[1:]
    problems = []
    hit: set[str] = set()
    for url, matched, tier in reported:
        if truth.family.get(url) != truth.family.get(matched):
            problems.append(f"{tier} report {url} ~ {matched} joins two families")
        elif url in truth.dups and truth.dups[url][1] == tier:
            hit.add(url)
    exact_copies = {u for urls in truth.exact.values() for u in urls[1:]}
    exact_hit = {u for u, _, tier in reported if tier == "exact"}
    missing = exact_copies - exact_hit
    if missing:
        problems.append(f"{len(missing)} exact copies not reported by the exact tier")
    return len(hit) / len(truth.dups), problems[:20]
