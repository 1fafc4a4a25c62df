"""Independent BM25 oracle: tokenizer, scorer and result comparison.

Nothing here imports the engine. The tokenizer is a separate
transcription of the reference rules (FIXTURES.md §5): runs of letters
(Unicode L*) and of digits (Unicode N*); everything else separates.
A digit run is one term. A letter run splits at every lower→upper
boundary, every piece is lowercased, and when a run splits the whole
lowercased run is emitted right before the second piece
(``helloWorld`` → ``hello helloworld world``). A doc's terms are its
url's terms followed by its text's terms.

BM25 follows FIXTURES.md §4: k1=1.2, b=0.75, integer avgdl, and
idf = ln((N - df + 0.5) / (df + 0.5)). N, avgdl and df are local to a
segment and count every doc the segment holds, deleted or not; deleted
docs never appear in results. A term repeated in the query counts once
per repetition. Across segments each url keeps its maximum score.
"""

from __future__ import annotations

import math
import re
import sys
import unicodedata
from collections import Counter

K1, B = 1.2, 0.75


def _char_class(pred) -> str:
    """Regex character class of every BMP code point matching pred,
    written as ranges."""
    out, start, prev = [], None, None
    for cp in range(0x10000):
        if 0xD800 <= cp <= 0xDFFF:
            continue
        ok = pred(chr(cp))
        if ok and start is None:
            start = cp
        if not ok and start is not None:
            out.append((start, prev))
            start = None
        prev = cp
    if start is not None:
        out.append((start, prev))
    return "".join(
        re.escape(chr(a)) if a == b else f"{re.escape(chr(a))}-{re.escape(chr(b))}"
        for a, b in out
    )


_LETTER = _char_class(lambda c: unicodedata.category(c).startswith("L"))
_DIGIT = _char_class(lambda c: unicodedata.category(c).startswith("N"))
_LOWER = _char_class(lambda c: c.islower())
_UPPER = _char_class(lambda c: c.isupper())
_RUN = re.compile(f"[{_LETTER}]+|[{_DIGIT}]+")
_IS_DIGIT_RUN = re.compile(f"[{_DIGIT}]")
_SPLIT = re.compile(f"(?<=[{_LOWER}])(?=[{_UPPER}])")
_BEYOND_BMP = re.compile("[^\x00-\uffff]")


def tokens(s: str) -> list[str]:
    if _BEYOND_BMP.search(s):
        raise ValueError("oracle tokenizer covers the BMP only")
    out: list[str] = []
    for run in _RUN.findall(s):
        if _IS_DIGIT_RUN.match(run):
            out.append(run)
            continue
        parts = _SPLIT.split(run)
        if len(parts) == 1:
            out.append(run.lower())
            continue
        out.append(parts[0].lower())
        out.append(run.lower())
        out.extend(p.lower() for p in parts[1:])
    return out


def doc_terms(url: str, text: str) -> Counter:
    tf = Counter(tokens(text))
    tf.update(tokens(url))
    return tf


class Corpus:
    """Each url's newest page, tokenized once: url → (tf Counter, doc_len)."""

    def __init__(self):
        self.docs: dict[str, tuple[Counter, int]] = {}
        self.text_bytes: dict[str, int] = {}

    def add(self, url: str, text: str) -> None:
        tf = doc_terms(url, text)
        self.docs[url] = (tf, sum(tf.values()))
        self.text_bytes[url] = len(text.encode("utf-8"))

    def dfs(self) -> Counter:
        df: Counter = Counter()
        for tf, _ in self.docs.values():
            df.update(tf.keys())
        return df


class SegmentModel:
    """A segment as the oracle sees it: the urls its docs table holds."""

    def __init__(self, corpus: Corpus, urls):
        self.urls = sorted(urls)
        self.n = len(self.urls)
        self.total_len = sum(corpus.docs[u][1] for u in self.urls)
        self.avgdl = self.total_len // self.n
        self.post: dict[str, list[tuple[str, int, int]]] = {}
        for u in self.urls:
            tf, dl = corpus.docs[u]
            for t, c in tf.items():
                self.post.setdefault(t, []).append((u, c, dl))

    def _impact(self, tf: int, dl: int) -> float:
        return tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / self.avgdl))

    def _idf(self, df: int) -> float:
        return math.log((self.n - df + 0.5) / (df + 0.5))

    def score(self, query: str, deleted: set[str], min_match: int | None
              ) -> dict[str, float]:
        """url → score. min_match None: conjunctive (every term must
        occur); else a doc needs at least min_match distinct terms."""
        mult = Counter(tokens(query))
        if not mult:
            return {}
        if min_match is None and any(t not in self.post for t in mult):
            return {}
        scores: dict[str, float] = {}
        hits: Counter = Counter()
        for t, m in mult.items():
            plist = self.post.get(t)
            if not plist:
                continue
            idf = self._idf(len(plist))
            for u, tf, dl in plist:
                scores[u] = scores.get(u, 0.0) + m * idf * self._impact(tf, dl)
                hits[u] += 1
        need = len(mult) if min_match is None else min_match
        return {u: s for u, s in scores.items()
                if hits[u] >= need and u not in deleted}


def collection_scores(segs: list[SegmentModel], query: str,
                      deleted: set[str], min_match: int | None = None
                      ) -> dict[str, float]:
    out: dict[str, float] = {}
    for s in segs:
        for u, sc in s.score(query, deleted, min_match).items():
            if u not in out or sc > out[u]:
                out[u] = sc
    return out


def _close(a: float, b: float, rel: float = 1e-9) -> bool:
    # relative 1e-9, with a 1e-12 absolute floor for scores that cancel
    # to near zero (negative-idf stop words beside positive terms)
    return abs(a - b) <= max(rel * max(abs(a), abs(b)), 1e-12)


def compare(engine: list[tuple[str, float]], oracle: dict[str, float],
            k: int) -> str | None:
    """None when the engine's top-k agrees with the oracle's scores, else
    the first disagreement. Ties are tolerated: scores agree rank by
    rank; every url above the k-th score is returned; urls at the k-th
    score come from the oracle's tie set; the engine orders by score
    descending, then url ascending."""
    ranked = sorted(oracle.items(), key=lambda kv: (-kv[1], kv[0]))
    want = min(k, len(ranked))
    if len(engine) != want:
        return f"{len(engine)} results, oracle has {want}"
    if not want:
        return None
    for i, (u, s) in enumerate(engine):
        if not _close(s, ranked[i][1]):
            return f"rank {i}: score {s!r} vs oracle {ranked[i][1]!r}"
        if u not in oracle:
            return f"rank {i}: {u} does not match"
        if not _close(s, oracle[u]):
            return f"rank {i}: {u} scored {s!r}, oracle {oracle[u]!r}"
        if i:
            pu, ps = engine[i - 1]
            if not (ps > s or (ps == s and pu < u)):
                return f"rank {i}: order is not score desc, url asc"
    kth = ranked[want - 1][1]
    above = {u for u, s in ranked if s > kth and not _close(s, kth)}
    got = {u for u, _ in engine}
    if not above <= got:
        return f"missing above the k-th score: {sorted(above - got)[:3]}"
    for u in got - above:
        if not _close(oracle[u], kth):
            return f"{u} is neither above nor tied at the k-th score"
    return None


def self_check() -> None:
    """Known answers of the reference golden set (FIXTURES.md §3-5) and
    rejection of perturbed results; raises AssertionError on failure."""
    cases = {
        "": [], "!!!@@@###": [], "One": ["one"],
        "Hello World": ["hello", "world"],
        "Hello123World456": ["hello", "123", "world", "456"],
        "café naïve": ["café", "naïve"],
        "helloWorld": ["hello", "helloworld", "world"],
        "HelloWorld": ["hello", "helloworld", "world"],
    }
    for s, want in cases.items():
        got = tokens(s)
        if got != want:
            raise AssertionError(f"tokens({s!r}) = {got}, want {want}")
    dl = sum(doc_terms("https://example.com/test",
                       "Hello world test document").values())
    if dl != 8:
        raise AssertionError(f"url+body doc_len {dl}, want 8")

    corpus = Corpus()
    for u, t in (("doc-1", "words in first doc"),
                 ("doc-2", "words in second doc"),
                 ("doc-3", "this is doc 3")):
        corpus.add(u, t)
    seg = SegmentModel(corpus, corpus.docs)
    want = {"missing": set(), "first": {"doc-1"}, "second": {"doc-2"},
            "words": {"doc-1", "doc-2"}, "doc": {"doc-1", "doc-2", "doc-3"}}
    for q, urls in want.items():
        got = set(collection_scores([seg], q, set()))
        if got != urls:
            raise AssertionError(f"golden {q!r}: {sorted(got)}")
    after = set(collection_scores([seg], "doc", {"doc-2"}))
    if after != {"doc-1", "doc-3"}:
        raise AssertionError(f"golden 'doc' after delete: {sorted(after)}")
    # hand-computed: N=3, df(first)=1, dl(doc-1)=6 (url "doc 1" + 4 words),
    # avgdl = (6 + 6 + 6) // 3 = 6
    s = collection_scores([seg], "first", set())["doc-1"]
    ref = math.log(2.5 / 1.5) * 2.2 / (1 + 1.2)
    if not _close(s, ref):
        raise AssertionError(f"golden score {s!r}, want {ref!r}")

    oracle = collection_scores([seg], "words doc", set(), min_match=1)
    good = sorted(oracle.items(), key=lambda kv: (-kv[1], kv[0]))
    if compare(good, oracle, 10) is not None:
        raise AssertionError("oracle rejects its own result")
    swapped = [("doc-9", good[0][1])] + good[1:]
    if compare(swapped, oracle, 10) is None:
        raise AssertionError("oracle accepts a result with a url swapped")
    nudged = [(good[0][0], good[0][1] * (1 + 1e-7))] + good[1:]
    if compare(nudged, oracle, 10) is None:
        raise AssertionError("oracle accepts a result with a score changed")


if __name__ == "__main__":
    self_check()
    print("oracle self-check passed", file=sys.stderr)
