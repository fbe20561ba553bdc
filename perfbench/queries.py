"""Seeded query stream for the serving workload.

Every query is built only from tokens the generated corpus really contains:
theme identifiers (``corpus.theme_terms`` of themes present at the corpus
size), the planted phrases (``corpus.PHRASES``) and the df=1 terms
(``corpus.RARE_TERMS``). A query that matches nothing would time only the
planning floor, so the benchmark also reports the share of empty answers.

A client's stream cycles through five slots: four flat shapes (the block-max
pruned paths) and one structured slot that rotates through the positional
shapes. Within a slot, popularity is Zipf-skewed over the slot's pool, whose
order the seed sets. A run of a few queries per client therefore has the
same mix of shapes on every seed; the seed picks corpus, terms and weights.
"""

from __future__ import annotations

import bisect
import itertools
import random
from dataclasses import dataclass

from search_engine_spark.config import BM25, INDRI
from search_engine_spark.corpus import N_THEMES, PHRASES, RARE_TERMS, theme_terms


@dataclass(frozen=True)
class Query:
    qid: str
    model: str  # BM25 | Indri
    kind: str  # "flat" (block-max pruned paths) | "struct" (positional operators)
    text: str


def n_themes(n_files: int) -> int:
    """Themes the corpus generator assigns at this size: one per 25-repo org,
    with n_files // 40 repos."""
    return min(N_THEMES, max(1, (max(1, n_files // 40) + 24) // 25))


def _weighted(op: str, rng: random.Random, terms: list[str]) -> str:
    w = [f"{rng.randint(1, 9) / 10:.1f}" for _ in terms]
    return f"{op}({' '.join(x for p in zip(w, terms) for x in p)})"


def _flat_pools(rng: random.Random, n_files: int) -> list[list[tuple[str, str]]]:
    def combos(r):
        out = []
        for th in range(n_themes(n_files)):
            for c in itertools.combinations(theme_terms(th), r):
                c = list(c)
                rng.shuffle(c)
                out.append(c)
        return out

    return [
        [(BM25, " ".join(c)) for c in combos(2)],
        [(INDRI, f"#AND({' '.join(c)})") for c in combos(3)],
        [(BM25, " ".join(c)) for c in combos(3)],
        [(INDRI, _weighted(rng.choice(["#WAND", "#WSUM"]), rng, c)) for c in combos(2)],
    ]


def _struct_pools(rng: random.Random, n_files: int) -> list[list[tuple[str, str]]]:
    themes = n_themes(n_files)
    near, window, syn, bm25_sum, indri_wand = [], [], [], [], []
    for a, b, c in PHRASES:
        near += [(BM25, f"#NEAR/{n}({a} {b})") for n in (1, 2, 3)]
        near.append((BM25, f"#NEAR/2({a} {b} {c})"))
        window += [(BM25, f"#WINDOW/{n}({a} {c})") for n in (4, 8)]
        syn.append((BM25, f"#SYN({a} {c} {RARE_TERMS[0]})"))
        t = rng.choice(theme_terms(rng.randrange(themes)))
        bm25_sum.append((BM25, f"#SUM({t} #NEAR/1({a} {b}))"))
        indri_wand.append((INDRI, _weighted("#WAND", rng, [t, f"#NEAR/1({b} {c})"])))
    return [near, window, syn, bm25_sum, indri_wand]


class QueryStream:
    """The seeded pools and the draw rule; ``pool`` lists every query."""

    STRUCT_SLOT = 3  # position of the structured slot in the 5-slot cycle

    def __init__(self, rng: random.Random, n_files: int, s: float = 1.1):
        self.pool: list[Query] = []

        def seal(pools, kind):
            out = []
            for members in pools:
                rng.shuffle(members)
                qs = [Query(f"{kind[0]}{len(self.pool) + i}", m, kind, t)
                      for i, (m, t) in enumerate(members)]
                self.pool += qs
                cum = list(itertools.accumulate(1.0 / (r + 1) ** s for r in range(len(qs))))
                out.append((qs, cum))
            return out

        self.flat = seal(_flat_pools(rng, n_files), "flat")
        self.struct = seal(_struct_pools(rng, n_files), "struct")

    def draw(self, rng: random.Random, client: int, j: int) -> Query:
        """Query ``j`` of ``client``'s stream."""
        slot = (client + j) % 5
        if slot == self.STRUCT_SLOT:
            qs, cum = self.struct[(client + j // 5) % len(self.struct)]
        else:
            qs, cum = self.flat[slot - (slot > self.STRUCT_SLOT)]
        return qs[bisect.bisect_left(cum, rng.random() * cum[-1])]
