"""Per-document character unification — pure-Python core.

Reimplements (from scratch, graph lib-free) the semantics of the
reference's GraphRulesCharacterUnifier / NaiveCharacterUnifier
(/root/reference/renard/pipeline/character_unification.py:99-464):
an alias graph over distinct PER surface forms, linked by rules
(hypocorism / title-removal / shared last / shared first / coref),
contradiction-driven edge removal, connected components, gender vote,
coref-chain mention assignment, min-appearances filter.

Two deliberate canonicalizations (the reference iterates Python *sets*,
so its pair order and tie-breaks are PYTHONHASHSEED-dependent —
SURVEY.md §5 determinism caveat):
  * pairs iterate over **sorted** names;
  * all ties (gender vote, chain argmax) break toward the
    first item in sorted order.

This module has no Spark imports: it is unit-testable standalone. It
runs once per document, many documents per Python call: in the batch
steps (``utils.map_batches``) of ``unify.graph_rules_unify`` and of
``cooccur.cooccurrence_edges_grouped``. The
cross-document ``unify_scale.unify_distributed`` evaluates the same
alias rule (``_NameFeatures.related``) on its candidate pairs and runs
``alias_components`` once per initial component.
"""

from __future__ import annotations

import re
from collections import Counter, deque
from functools import lru_cache
from itertools import combinations
from typing import Iterable, NamedTuple, Optional

from renard_spark.functions.names import parse_name
from renard_spark.resources.gazetteers import (
    SINGULAR_DETERMINERS,
    hypocorism_related,
    is_female_pronoun,
    is_female_title,
    is_male_pronoun,
    is_male_title,
    names_of_nickname,
    nicknames_of,
)

UNKNOWN, MALE, FEMALE = "UNKNOWN", "MALE", "FEMALE"

Mention = tuple[str, int, int]  # (surface, start_idx, end_idx)
Chain = list[Mention]


def _preprocess_name(name: str, lang: str, ignore_leading_determiner: bool) -> str:
    if not ignore_leading_determiner:
        return name
    for det in SINGULAR_DETERMINERS.get(lang, ()):
        name = re.sub(f"^{re.escape(det)} ", " ", name, flags=re.I)
    return name


def _related_after_title_removal(p1, p2, extra_hypo) -> bool:
    raw1, raw2 = p1.without_title, p2.without_title
    if raw1 == "" or raw2 == "":
        return False
    return raw1.lower() == raw2.lower() or hypocorism_related(raw1, raw2, extra_hypo)


class _NameFeatures(NamedTuple):
    """What the pair rules read of one name, computed once per name:
    lowercased pre-processed form and title-stripped form with their
    hypocorism sets, lowercased first and last names. ``related`` is
    the hypocorism / title-removal / shared last / shared first rules
    of ``hypocorism_related`` and ``_related_after_title_removal``
    without an extra hypocorism table."""

    pre: str
    pre_hypo: frozenset
    raw: str
    raw_hypo: frozenset
    first: str
    last: str

    def related(self, o: "_NameFeatures") -> bool:
        return (
            (self.pre != "" and o.pre != ""
             and (self.pre == o.pre or o.pre in self.pre_hypo))
            or (self.raw != "" and o.raw != ""
                and (self.raw == o.raw or o.raw in self.raw_hypo))
            or (self.last != "" and self.last == o.last)
            or (self.first != "" and self.first == o.first)
        )


@lru_cache(maxsize=1 << 16)
def _name_features(pre: str, lang: str) -> _NameFeatures:
    """Memoized like ``parse_name``: corpora repeat the same names."""
    parsed = parse_name(pre, lang)
    pre_l = pre.lower()
    raw_l = parsed.without_title.lower()
    return _NameFeatures(
        pre_l, _hypocorisms(pre_l), raw_l, _hypocorisms(raw_l),
        parsed.first.lower(), parsed.last.lower(),
    )


def _hypocorisms(name_l: str) -> frozenset:
    return frozenset(nicknames_of(name_l) | names_of_nickname(name_l))


def _names_in_coref(name1: str, name2: str, chains: Iterable[Chain]) -> bool:
    """Both names in ≥1 common chain and never one without the other."""
    once_together = False
    for chain in chains:
        surfaces = {m[0] for m in chain}
        in1, in2 = name1 in surfaces, name2 in surfaces
        if in1 != in2:
            return False
        if in1 and in2:
            once_together = True
    return once_together


def infer_gender(name: str, chains: Optional[list[Chain]], lang: str) -> str:
    parsed = parse_name(name, lang)
    if parsed.title:
        if is_male_title(parsed.title, lang):
            return MALE
        if is_female_title(parsed.title, lang):
            return FEMALE
    if chains is None:
        return UNKNOWN
    male = female = 0
    for chain in chains:
        surfaces = {m[0] for m in chain}
        if name not in surfaces:
            continue
        for s in surfaces:
            if is_male_pronoun(s, lang):
                male += 1
            elif is_female_pronoun(s, lang):
                female += 1
    if male == female:
        return UNKNOWN
    return MALE if male > female else FEMALE


def _bfs_dist(adj: dict[str, set[str]], src: str) -> dict[str, int]:
    dist = {src: 0}
    q = deque([src])
    while q:
        u = q.popleft()
        for v in adj[u]:
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    return dist


def _remove_shortest_path_first_edges(adj: dict[str, set[str]], a: str, b: str):
    """Remove the first edge of every shortest a→b path (if connected).

    Matches the reference's ``G.remove_edges_from(nx.all_shortest_paths(...))``
    effect: each path contributes only its (first, second) node pair as a
    removed edge (character_unification.py:293-327).
    """
    da = _bfs_dist(adj, a)
    if b not in da:
        return
    db = _bfs_dist(adj, b)
    d = da[b]
    first_edges = [n for n in adj[a] if da.get(n) == 1 and db.get(n, -1) == d - 1]
    for n in first_edges:
        adj[a].discard(n)
        adj[n].discard(a)


def alias_components(
    names: list[str],
    adj: dict[str, set[str]],
    parsed: dict,
    genders: dict[str, str],
) -> list[list[str]]:
    """Contradiction pass over the alias graph ``adj`` (cut in place),
    then its connected components: each sorted, in order of their
    first name.

    ``names`` is sorted, and its pairs are visited in that order. A
    pair with the same last and different first name (case-sensitive),
    else with conflicting known genders, cuts its alias path
    (character_unification.py:293-327). ``parsed`` maps each name to
    its ``parse_name`` result.
    """
    for n1, n2 in combinations(names, 2):
        p1, p2 = parsed[n1], parsed[n2]
        if (
            p1.last != "" and p2.last != ""
            and p1.first != "" and p2.first != ""
            and p1.last == p2.last
            and p1.first != p2.first
        ):
            _remove_shortest_path_first_edges(adj, n1, n2)
            continue
        g1, g2 = genders[n1], genders[n2]
        if g1 != g2 and g1 != UNKNOWN and g2 != UNKNOWN:
            _remove_shortest_path_first_edges(adj, n1, n2)

    components: list[list[str]] = []
    seen: set[str] = set()
    for start in names:
        if start not in seen:
            comp = sorted(_bfs_dist(adj, start))
            seen.update(comp)
            components.append(comp)
    return components


def unify_doc(
    mentions: list[Mention],
    chains: Optional[list[Chain]] = None,
    *,
    lang: str = "eng",
    min_appearances: int = 0,
    link_corefs_mentions: bool = False,
    ignore_lone_titles: Optional[set[str]] = None,
    ignore_leading_determiner: bool = False,
    extra_hypocorisms: Optional[dict[str, set[str]]] = None,
) -> list[dict]:
    """GraphRules unification for one document.

    mentions: PER-tagged (surface, start_idx, end_idx), any order.
    Returns a list of characters:
      {char_id, names: sorted list, gender, mentions: [(surface,start,end)]}
    """
    ignore_lone_titles = ignore_lone_titles or set()
    names = sorted({m[0] for m in mentions} - ignore_lone_titles)

    pre = {n: _preprocess_name(n, lang, ignore_leading_determiner) for n in names}
    parsed = {n: parse_name(pre[n], lang) for n in names}

    if extra_hypocorisms:
        def name_rule(n1: str, n2: str) -> bool:
            p1, p2 = parsed[n1], parsed[n2]
            return (
                hypocorism_related(pre[n1], pre[n2], extra_hypocorisms)
                or _related_after_title_removal(p1, p2, extra_hypocorisms)
                or (p1.last != "" and p1.last.lower() == p2.last.lower())
                or (p1.first != "" and p1.first.lower() == p2.first.lower())
            )
    else:
        feats = {n: _name_features(pre[n], lang) for n in names}

        def name_rule(n1: str, n2: str) -> bool:
            return feats[n1].related(feats[n2])

    adj: dict[str, set[str]] = {n: set() for n in names}
    for n1, n2 in combinations(names, 2):
        if name_rule(n1, n2) or (
            chains is not None
            and link_corefs_mentions
            and _names_in_coref(n1, n2, chains)
        ):
            adj[n1].add(n2)
            adj[n2].add(n1)

    genders = {n: infer_gender(n, chains, lang) for n in names}

    characters: list[dict] = []
    for comp in alias_components(names, adj, parsed, genders):
        comp_set = set(comp)
        glist = [genders[n] for n in comp]
        counter = Counter(glist)
        best = max(counter.values())
        gender = next(g for g in glist if counter[g] == best)
        char_mentions = [m for m in mentions if m[0] in comp_set]
        characters.append(
            {
                "char_id": comp[0],
                "names": comp,
                "gender": gender,
                "mentions": char_mentions,
            }
        )

    if chains is not None:
        characters = assign_coreference_mentions(characters, chains)

    if min_appearances <= 0:
        return characters

    # GraphRules variant: count only mentions whose surface ∈ names
    def appearances(c: dict) -> int:
        names_ = set(c["names"])
        return sum(1 for m in c["mentions"] if m[0] in names_)

    return [c for c in characters if appearances(c) >= min_appearances]


def assign_coreference_mentions(
    characters: list[dict], chains: list[Chain]
) -> list[dict]:
    """Each chain joins the character whose names occur most in it
    (0 occurrences → unassigned); mentions unioned, deduped, re-sorted.
    Tie-break: first character in list order (canonical: components in
    sorted-name order). Mirrors character_unification.py:48-96.
    """
    if not characters:
        return characters
    ment_sets = [set(c["mentions"]) for c in characters]
    for chain in chains:
        occ = [
            sum(1 for m in chain if m[0] in set(c["names"])) for c in characters
        ]
        best_i = max(range(len(characters)), key=lambda i: occ[i])
        if occ[best_i] == 0:
            continue
        ment_sets[best_i].update(chain)
    out = []
    for c, ms in zip(characters, ment_sets):
        out.append({**c, "mentions": sorted(ms, key=lambda m: (m[1], m[2], m[0]))})
    return out


def unify_naive_doc(
    mentions: list[Mention],
    chains: Optional[list[Chain]] = None,
    min_appearances: int = 0,
) -> list[dict]:
    """NaiveCharacterUnifier: one character per distinct surface form
    (character_unification.py:99-156). Filter counts ALL mentions
    (including coref-assigned ones), unlike the GraphRules variant.
    """
    by_surface: dict[str, list[Mention]] = {}
    for m in sorted(mentions, key=lambda m: (m[1], m[2], m[0])):
        by_surface.setdefault(m[0], []).append(m)
    characters = [
        {"char_id": s, "names": [s], "gender": UNKNOWN, "mentions": ms}
        for s, ms in sorted(by_surface.items())
    ]
    if chains is not None:
        characters = assign_coreference_mentions(characters, chains)
    return [c for c in characters if len(c["mentions"]) >= min_appearances]
