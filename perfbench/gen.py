"""Seeded input generator for the service benchmark.

Everything the program under test sees is produced here from one seed:
legal-style multi-paragraph documents (written to ``documents.parquet``
for the bulk ingest), documents for the ingest workload, and unique query
texts. Documents carry 3-12 paragraphs of 30-180 tokens, so the chunker's
paragraph fold emits several chunks per document, and exactly one decision
phrase, so the case-decision cascade has a rule to find.
"""

from __future__ import annotations

import itertools
import random

import pyarrow as pa
import pyarrow.parquet as pq

#: bulk corpus size; with the chunker's 400-token budget this gives
#: about 2.7 chunks per document
N_DOCS = 600

_WORDS = (
    "appeal appellant respondent tribunal court order judgment petition "
    "customs excise duty commissioner assessee notice hearing counsel "
    "section clause act rule statute provision schedule tariff invoice "
    "goods import export valuation classification refund penalty interest "
    "demand adjudication authority bench member record evidence witness "
    "finding submission argument contention ground relief remedy writ "
    "jurisdiction limitation delay condonation affidavit annexure exhibit "
    "contract agreement party liability breach damages compensation claim "
    "property title deed lease tenant landlord possession eviction decree "
    "revenue department assessment proceeding inquiry investigation report "
    "material fact circumstance reason conclusion principle precedent "
    "ratio dictum interpretation meaning scope object purpose intention "
    "the of and to in that is was be by for on with as it this which "
    "learned said aforesaid hereinafter therein thereof whereas accordingly "
    "held observed noted stated submitted contended argued recorded found "
    "company director partner firm trader manufacturer dealer importer "
    "officer inspector superintendent collector registrar magistrate "
    "criminal civil constitutional statutory procedural substantive "
    "original appellate revisional review reference remand transfer "
    "bail custody arrest charge offence prosecution conviction sentence"
).split()

#: one per document; every pattern is matched by the case-decision cascade
#: (functions/classifiers.py), covering won, lost and mixed rule orders
_DECISIONS = [
    "the appeal is allowed",
    "the impugned order is set aside",
    "the matter needs to be remanded",
    "the appeal dismissed with costs",
    "we allow the appeal",
    "the judgment affirmed in full",
    "the judgment reversed on review",
    "the order is upheld",
    "the petition is rejected",
    "the petition is accepted",
    "relief is granted to the appellant",
    "the hearing stands adjourned",
]

#: court levels of the bulk corpus are doc_id % 5 (plans/ingest.build_chunks);
#: a search at level L reads level L + 1, so queries use levels 0-3
QUERY_LEVELS = (0, 1, 2, 3)


#: Zipf-like word frequencies, so texts share vocabulary like real prose
_CUM_WEIGHTS = list(itertools.accumulate(1.0 / (r + 1) for r in range(len(_WORDS))))


def _paragraph(rng: random.Random) -> str:
    return " ".join(rng.choices(_WORDS, cum_weights=_CUM_WEIGHTS, k=rng.randint(30, 180)))


def document(rng: random.Random) -> str:
    paras = [_paragraph(rng) for _ in range(rng.randint(3, 12))]
    at = rng.randrange(len(paras))
    paras[at] = f"{paras[at]} {rng.choice(_DECISIONS)}"
    return "\n\n".join(paras)


class Inputs:
    """All generated inputs of one run, derived from ``seed`` alone."""

    def __init__(self, seed: int):
        self.seed = seed
        rng = random.Random(seed)
        self.docs = [document(rng) for _ in range(N_DOCS)]
        self._rng = random.Random(seed * 7919 + 1)
        self._queries = 0
        self._ingests = 0

    def write_documents(self, path: str) -> None:
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(range(len(self.docs)), pa.int64()),
                    "text": pa.array(self.docs, pa.string()),
                }
            ),
            path,
        )

    def query(self) -> tuple[str, str, int]:
        """(file_name, text, court_level) of a query no earlier call
        produced: a corpus document with a third of its words redrawn and
        a query-unique token, so near neighbours exist but no response
        repeats."""
        i = self._queries
        self._queries += 1
        rng = self._rng
        base = self.docs[rng.randrange(len(self.docs))]
        paras = []
        for p in base.split("\n\n"):
            toks = p.split()
            for j in range(len(toks)):
                if rng.random() < 1 / 3:
                    toks[j] = rng.choice(_WORDS)
            paras.append(" ".join(toks))
        paras[0] = f"query{self.seed}x{i} {paras[0]}"
        return f"query_{i}.pdf", "\n\n".join(paras), QUERY_LEVELS[i % len(QUERY_LEVELS)]

    def ingest_doc(self) -> tuple[str, str, int]:
        """(file_name, text, court_level) of a new document to ingest."""
        i = self._ingests
        self._ingests += 1
        return f"ingest_{self.seed}_{i}.pdf", document(self._rng), i % 5
