"""Independent reference for the benchmark's output checks.

Written from the tokenizer rules documented in ``yase_spark/tokenize.py``
and from the BM25 definition (k1=1.2, b=0.75, Lucene idf), without
importing any of the program's code:

1. identifiers are maximal runs of ``[A-Za-z0-9_]``;
2. an identifier splits into parts at ``_``, at an acronym boundary
   (an upper-case letter that follows an upper-case letter and precedes
   a lower-case one: ``HTTP|Server``) and at a camel boundary (an
   upper-case letter after a lower-case letter or a digit: ``get|User``);
   parts are lower-cased;
3. tokens are every part; the whole identifier lower-cased when it has
   more than one part; with n-grams (the index default), every adjacent
   part pair joined by ``_``.

Queries are analysed without n-grams, duplicates dropped, first
occurrence order kept. Collection statistics count every document ever
added, tombstoned or not (Lucene semantics until a merge); tombstoned
documents never match.
"""

from __future__ import annotations

import math
import re
from collections import Counter

K1 = 1.2
B = 0.75

_IDENT = re.compile(r"[A-Za-z0-9_]+")


def _is_upper(c: str) -> bool:
    return "A" <= c <= "Z"


def _is_lower(c: str) -> bool:
    return "a" <= c <= "z"


def _is_digit(c: str) -> bool:
    return "0" <= c <= "9"


def split_identifier(ident: str) -> list[str]:
    """Lower-cased parts, by a single left-to-right scan."""
    parts: list[str] = []
    cur: list[str] = []
    n = len(ident)
    for i, c in enumerate(ident):
        if c == "_":
            if cur:
                parts.append("".join(cur))
                cur = []
            continue
        if cur and _is_upper(c):
            prev = ident[i - 1]
            camel = _is_lower(prev) or _is_digit(prev)
            acronym = _is_upper(prev) and i + 1 < n and _is_lower(ident[i + 1])
            if camel or acronym:
                parts.append("".join(cur))
                cur = []
        cur.append(c)
    if cur:
        parts.append("".join(cur))
    return [p.lower() for p in parts]


class Tokenizer:
    """Memoized per identifier: a corpus repeats its vocabulary, so the
    per-document cost is one regex scan plus dictionary lookups."""

    def __init__(self, ngrams: bool):
        self.ngrams = ngrams
        self._memo: dict[str, list[str]] = {}

    def identifier_tokens(self, ident: str) -> list[str]:
        got = self._memo.get(ident)
        if got is None:
            parts = split_identifier(ident)
            got = list(parts)
            if len(parts) > 1:
                got.append(ident.lower())
                if self.ngrams:
                    got.extend(f"{a}_{b}" for a, b in zip(parts, parts[1:]))
            self._memo[ident] = got
        return got

    def tokens(self, text: str) -> list[str]:
        out: list[str] = []
        for ident in _IDENT.findall(text):
            out.extend(self.identifier_tokens(ident))
        return out


_QUERY_TOKENIZER = Tokenizer(ngrams=False)


def analyze_query(text: str) -> list[str]:
    return list(dict.fromkeys(_QUERY_TOKENIZER.tokens(text)))


def doc_key(row: dict) -> tuple:
    return (row["repo"], row["path"], row["commit"])


class ReferenceIndex:
    """Term frequencies per document and the collection statistics.

    Documents are added in batches; each batch's ids continue after the
    previous batch, in (repo, path, commit) order within the batch, as
    the program mints them."""

    def __init__(self):
        self._tok = Tokenizer(ngrams=True)
        self.tf: dict[int, Counter] = {}
        self.dl: dict[int, int] = {}
        self.deleted: set[int] = set()
        self.total_tokens = 0
        self._postings: dict[str, dict[int, int]] = {}

    @property
    def n_docs(self) -> int:
        return len(self.tf)

    @property
    def avgdl(self) -> float:
        return self.total_tokens / self.n_docs if self.n_docs else 0.0

    def add_batch(self, rows: list[dict]) -> list[int]:
        base = self.n_docs
        ids = []
        for i, row in enumerate(sorted(rows, key=doc_key)):
            doc_id = base + 1 + i
            toks = self._tok.tokens(row["content"])
            self.tf[doc_id] = Counter(toks)
            self.dl[doc_id] = len(toks)
            self.total_tokens += len(toks)
            ids.append(doc_id)
        self._postings.clear()
        return ids

    def delete(self, doc_ids) -> None:
        self.deleted.update(int(d) for d in doc_ids)

    def postings(self, term: str) -> dict[int, int]:
        """doc_id -> tf over every document, tombstoned ones included."""
        got = self._postings.get(term)
        if got is None:
            got = {d: c[term] for d, c in self.tf.items() if term in c}
            self._postings[term] = got
        return got

    def df(self, term: str) -> int:
        return len(self.postings(term))

    def idf(self, term: str) -> float:
        n, df = self.n_docs, self.df(term)
        return math.log(1.0 + (n - df + 0.5) / (df + 0.5))

    def scores(self, text: str) -> dict[int, float]:
        """BM25 of every live document matching any query term, summed
        in query-term order."""
        out: dict[int, float] = {}
        avgdl = self.avgdl
        for t in analyze_query(text):
            idf = self.idf(t)
            for d, tf in self.postings(t).items():
                if d in self.deleted:
                    continue
                norm = K1 * (1.0 - B + B * (self.dl[d] / avgdl))
                out[d] = out.get(d, 0.0) + idf * (tf * (K1 + 1.0)) / (tf + norm)
        return out

    def topk(self, text: str, k: int) -> list[tuple[int, float]]:
        s = self.scores(text)
        return sorted(s.items(), key=lambda kv: (-kv[1], kv[0]))[:k]

    def bool_and(self, text: str) -> set[int]:
        terms = analyze_query(text)
        if not terms:
            return set()
        sets = [set(self.postings(t)) for t in terms]
        return set.intersection(*sets) - self.deleted

    def bool_or(self, text: str) -> set[int]:
        out: set[int] = set()
        for t in analyze_query(text):
            out.update(self.postings(t))
        return out - self.deleted


# ------------------------------------------------------------- checks
SCORE_RTOL = 1e-9


def close(a: float, b: float) -> bool:
    return abs(a - b) <= SCORE_RTOL * max(1.0, abs(a), abs(b))


def check_topk(ref: ReferenceIndex, text: str, got: list, k: int) -> str | None:
    """None when the program's ``[(rank, doc_id, score)]`` matches the
    reference: same length, scores equal at every rank, and where doc ids
    differ the two documents tie on score."""
    want = ref.topk(text, k)
    if len(got) != len(want):
        return f"topk {text!r}: {len(got)} hits, reference {len(want)}"
    all_scores = ref.scores(text)
    seen = set()
    for (rank, doc, score), (wdoc, wscore) in zip(got, want):
        if doc in seen:
            return f"topk {text!r}: doc {doc} returned twice"
        seen.add(doc)
        if not close(score, wscore):
            return f"topk {text!r} rank {rank}: score {score!r}, reference {wscore!r}"
        if doc != wdoc:
            mine = all_scores.get(doc)
            if mine is None or not close(mine, wscore):
                return f"topk {text!r} rank {rank}: doc {doc}, reference {wdoc}"
    return None


def check_set(ref_set: set, got, what: str) -> str | None:
    got_set = {int(d) for d in got}
    if len(got_set) != len(got):
        return f"{what}: duplicate doc ids"
    if got_set != ref_set:
        extra, missing = sorted(got_set - ref_set)[:5], sorted(ref_set - got_set)[:5]
        return f"{what}: {len(got_set)} docs, reference {len(ref_set)} (extra {extra}, missing {missing})"
    return None


def check_topk_order(got: list, text: str) -> str | None:
    """Property: scores never increase down the list; equal scores are
    ordered by ascending doc id; ranks run 1..n."""
    for i, (rank, doc, score) in enumerate(got):
        if rank != i + 1:
            return f"topk {text!r}: rank {rank} at position {i + 1}"
        if i:
            _, pdoc, pscore = got[i - 1]
            if score > pscore or (score == pscore and doc < pdoc):
                return f"topk {text!r}: rank {rank} out of order"
    return None
