"""Independent reference for the engine's answers.

A pure-Python BM25 (k1=1, b=0.75, IDF = ln(N/df), the reference
``app/query.py`` formula) over the generated corpus, kept in step with
every update the engine receives, plus the index invariants it implies.
"""

from __future__ import annotations

import math
import re
from collections import Counter

K1, B = 1.0, 0.75
_TOKEN = re.compile(r"[\w']+")
#: relative tolerance on a score: the engine sums per-term scores in an
#: order fixed by its partitioning, so sums of 3-4 terms may differ from a
#: left-to-right sum in the last bits
REL_TOL = 1e-9


class ReferenceIndex:
    def __init__(self, rows: list[tuple[int, str, str]] = ()):
        self.titles: dict[int, str] = {}
        self.doc_len: dict[int, int] = {}
        self.terms: dict[int, Counter] = {}
        self.postings: dict[str, dict[int, int]] = {}
        self.total_len = 0
        self.upsert(rows)

    # -- updates (mirror idempotent_reindex / delete_documents) ----------
    def _remove(self, doc_id: int) -> None:
        counts = self.terms.pop(doc_id, None)
        if counts is None:
            return
        del self.titles[doc_id]
        self.total_len -= self.doc_len.pop(doc_id)
        for t in counts:
            plist = self.postings[t]
            del plist[doc_id]
            if not plist:
                del self.postings[t]

    def upsert(self, rows) -> None:
        for doc_id, title, text in rows:
            self._remove(doc_id)
            counts = Counter(_TOKEN.findall(text.lower()))
            if not counts:
                continue
            self.titles[doc_id] = title
            self.terms[doc_id] = counts
            self.doc_len[doc_id] = n = sum(counts.values())
            self.total_len += n
            for t, tf in counts.items():
                self.postings.setdefault(t, {})[doc_id] = tf

    def delete(self, doc_ids) -> None:
        for d in doc_ids:
            self._remove(d)

    # -- answers ----------------------------------------------------------
    @property
    def doc_n(self) -> int:
        return len(self.terms)

    def df(self, term: str) -> int:
        return len(self.postings.get(term, ()))

    def scores(self, query: str) -> dict[int, float]:
        """Per-doc BM25 for every doc holding at least one query term."""
        n = self.doc_n
        out: dict[int, float] = {}
        if n == 0:
            return out
        avgdl = float(self.total_len) / float(n)
        for t in sorted({w.lower() for w in query.split()}):
            plist = self.postings.get(t)
            if not plist:
                continue
            idf = math.log(float(n) / float(len(plist)))
            for doc_id, tf in plist.items():
                dl = float(self.doc_len[doc_id])
                s = idf * ((K1 + 1.0) * tf) / (K1 * (1.0 - B + B * dl / avgdl) + tf)
                out[doc_id] = out.get(doc_id, 0.0) + s
        return out

    def check_topk(self, query: str, rows: list[tuple], k: int = 10) -> str | None:
        """None when ``rows`` (doc_id, doc_title, doc_rank) is a correct
        top-k for ``query``, else a one-line reason.

        Tie-aware: any choice among docs tied at the k-th score is accepted,
        but every doc scoring strictly above it must be present.
        """
        ref = self.scores(query)
        want = min(k, len(ref))
        if len(rows) != want:
            return f"{len(rows)} rows, expected {want}"
        if not rows:
            return None
        ranked = sorted(ref.values(), reverse=True)
        kth = ranked[want - 1]
        prev = math.inf
        seen = set()
        for doc_id, title, rank in rows:
            if doc_id not in ref or doc_id in seen:
                return f"doc {doc_id} is not a distinct match"
            seen.add(doc_id)
            if title != self.titles[doc_id]:
                return f"doc {doc_id} title {title!r}"
            if not _close(rank, ref[doc_id]):
                return f"doc {doc_id} rank {rank!r} != {ref[doc_id]!r}"
            if rank > prev and not _close(rank, prev):
                return "ranks not descending"
            prev = rank
        for doc_id, s in ref.items():
            if s > kth and not _close(s, kth) and doc_id not in seen:
                return f"doc {doc_id} (score {s!r}) above the k-th score is missing"
        return None



def _close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))
