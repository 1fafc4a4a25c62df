"""Seeded input generator for the benchmark.

Everything a run feeds the engine comes from here and from one seed:
page batches (url, warc_ts, html, text, lang), the re-crawls inside a
batch, the deletes that follow each batch, and the query strings. The
engine only ever sees the generated pages and query strings; the
oracle (oracle.py) sees the same pages and tokenizes them on its own.

Input make-up (README.md records the measured figures):

- words are drawn from a truncated Zipf law over VOCAB_SIZE synthetic
  consonant-vowel words, so document frequency spans a handful of docs
  up to more than half the corpus (negative-idf stop words);
- doc lengths are lognormal;
- a share of the body tokens are camelCase pairs, digit runs, word+digit
  runs and Latin-1 words;
- urls carry host and path tokens (they are indexed and count in doc_len);
- a share of each batch's urls is re-crawled within the batch: the same
  url again, with a later warc_ts and a fresh text. The older text holds
  one marker word found nowhere else, so a query on it must come back
  empty once the newest copy wins;
- ``html`` is the zlib compression of ``text``.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass, field

import numpy as np

VOCAB_SIZE = 40_000
ZIPF_S = 1.05
DOC_LEN_MU = float(np.log(80.0))  # lognormal median 80 body tokens
DOC_LEN_SIGMA = 0.7
DOC_LEN_MIN, DOC_LEN_MAX = 4, 1500
CAMEL_RATE = 0.01
DIGIT_RATE = 0.015
WORD_DIGIT_RATE = 0.005
LATIN1_RATE = 0.01
PUNCT_RATE = 0.05
RECRAWL_SHARE = 0.03
N_HOSTS = 250
TLDS = ("com", "org", "net", "io", "de", "fr")
LATIN1_WORDS = (
    "café", "naïve", "über", "señor", "façade", "déjà", "garçon",
    "smörgåsbord", "Ångström", "crème", "brûlée", "jalapeño", "rosé",
    "fiancée", "æsir", "øre", "straße", "Zürich", "Málaga", "Île",
)
BASE_TS_US = 1_767_225_600 * 1_000_000  # 2026-01-01T00:00:00Z

_CONS = "bdfgklmnprstvz"
_VOWELS = "aeiou"
_SYLLABLES = [c + v for c in _CONS for v in _VOWELS]


def word(i: int) -> str:
    """The i-th vocabulary word: (i + 70) written in base 70 with one
    consonant-vowel syllable per digit, so every word has 2-3 syllables
    and no two indices share a spelling."""
    n = i + len(_SYLLABLES)
    out = []
    while n:
        n, d = divmod(n, len(_SYLLABLES))
        out.append(_SYLLABLES[d])
    return "".join(reversed(out))


def stale_word(k: int) -> str:
    # "xy" never occurs in a vocabulary word, host or Latin-1 word
    return "xy" + word(k)


def missing_word(k: int) -> str:
    # "qx" occurs nowhere in the corpus: a term absent from every dictionary
    return "qx" + word(k)


@dataclass
class Page:
    url: str
    warc_us: int
    text: str


@dataclass
class Step:
    """One ingest step: the batch's pages (both copies of a re-crawled
    url included, in shuffled order), the urls deleted after it, and each
    re-crawled url with the marker word only its older text holds."""
    pages: list[Page]
    deletes: list[str] = field(default_factory=list)
    stale: list[tuple[str, str]] = field(default_factory=list)


@dataclass
class Query:
    text: str
    bands: list[str]  # band of each term: rare | mid | high | missing
    min_match: int  # used by the partial (min-should-match) kind


class Generator:
    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
        p = ranks ** -ZIPF_S
        self.cdf = np.cumsum(p / p.sum())
        self.vocab = np.array([word(i) for i in range(VOCAB_SIZE)], dtype=object)
        self.serial = 0

    def _zipf(self, n: int) -> np.ndarray:
        ids = np.searchsorted(self.cdf, self.rng.random(n), side="right")
        return np.minimum(ids, VOCAB_SIZE - 1)

    def _texts(self, n_docs: int, extras: dict[int, str]) -> list[str]:
        """n_docs body texts; extras[i] is a word inserted into text i."""
        rng = self.rng
        lens = np.clip(rng.lognormal(DOC_LEN_MU, DOC_LEN_SIGMA, n_docs),
                       DOC_LEN_MIN, DOC_LEN_MAX).astype(np.int64)
        total = int(lens.sum())
        toks = self.vocab[self._zipf(total)]
        kind = rng.random(total)
        edges = np.cumsum([CAMEL_RATE, DIGIT_RATE, WORD_DIGIT_RATE,
                           LATIN1_RATE])
        for j in np.flatnonzero(kind < edges[-1]):
            r = kind[j]
            if r < edges[0]:
                a, b = self.vocab[self._zipf(2)]
                toks[j] = a + b.capitalize()
            elif r < edges[1]:
                toks[j] = str(int(rng.integers(0, 10 ** int(rng.integers(1, 6)))))
            elif r < edges[2]:
                toks[j] = toks[j] + str(int(rng.integers(0, 1000)))
            else:
                toks[j] = LATIN1_WORDS[int(rng.integers(0, len(LATIN1_WORDS)))]
        for j in np.flatnonzero(rng.random(total) < PUNCT_RATE):
            toks[j] = toks[j] + ",."[int(rng.integers(0, 2))]
        starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
        toks[starts] = [t.capitalize() for t in toks[starts]]
        out = []
        for i, (s, n) in enumerate(zip(starts.tolist(), lens.tolist())):
            words = toks[s:s + n].tolist()
            if i in extras:
                words.insert(int(rng.integers(0, n + 1)), extras[i])
            out.append(" ".join(words))
        return out

    def _url(self) -> str:
        rng = self.rng
        h = int(rng.integers(0, N_HOSTS))
        a, b = self.vocab[self._zipf(2)]
        self.serial += 1
        return (f"http://host{h}.{TLDS[h % len(TLDS)]}/{a}/{b}-"
                f"{self.serial}")

    def batches(self, sizes: list[int], deletes_per_batch: int) -> list[Step]:
        """Distinct urls across batches; re-crawls stay inside a batch."""
        steps: list[Step] = []
        live: list[str] = []
        n_stale = 0
        for size in sizes:
            urls, stale = [], []
            for _ in range(size):
                urls.append(self._url())
                if self.rng.random() < RECRAWL_SHARE:
                    stale.append((urls[-1], stale_word(n_stale)))
                    n_stale += 1
            recrawled = dict(stale)
            # older copies first, then the newest copy of every url
            olds = [u for u in urls if u in recrawled]
            texts = self._texts(len(olds) + len(urls), {
                i: recrawled[u] for i, u in enumerate(olds)})
            ts = {u: BASE_TS_US + j * 1_000_000 for j, u in
                  enumerate(urls, self.serial - len(urls) + 1)}
            pages = [Page(u, ts[u], t) for u, t in zip(olds, texts)]
            pages += [Page(u, ts[u] + (86_400_000_000 if u in recrawled
                                       else 0), t)
                      for u, t in zip(urls, texts[len(olds):])]
            # shuffle so re-crawls do not sit next to their older copy
            order = self.rng.permutation(len(pages))
            pages = [pages[i] for i in order]
            live.extend(urls)
            dels = []
            for _ in range(deletes_per_batch):
                dels.append(live.pop(int(self.rng.integers(0, len(live)))))
            steps.append(Step(pages, dels, stale))
        return steps

    def queries(self, bands: dict[str, list[str]],
                templates: list[tuple[tuple[str, ...], int]], n: int,
                offset: int = 0, distinct: bool = False) -> list[Query]:
        """n queries, cycling through templates of (term bands,
        min_match). A band is rare, mid or high (see df_bands), missing
        (a word no document holds) or rep (the query's first term
        again). Terms are drawn by seed from the band's terms. offset:
        the template the first query takes. distinct: no query string
        repeats (the template is drawn again)."""
        rng = self.rng
        out: list[Query] = []
        seen: set[str] = set()
        i, tries = offset, 0
        while len(out) < n:
            tries += 1
            if tries > 100 * n:
                raise ValueError("templates cannot give distinct queries")
            tb, m = templates[i % len(templates)]
            i += 1
            terms = []
            for b in tb:
                if b == "missing":
                    terms.append(missing_word(int(rng.integers(0, 10**6))))
                elif b == "rep":
                    terms.append(terms[0])
                else:
                    terms.append(bands[b][int(rng.integers(0, len(bands[b])))])
            text = " ".join(terms)
            if distinct and text in seen:
                i -= 1
                continue
            seen.add(text)
            out.append(Query(text, list(tb), m))
        return out


def df_bands(dfs: dict[str, int], n_docs: int) -> dict[str, list[str]]:
    """The corpus dictionary ``dfs`` split by document frequency: rare
    (df <= max(5, N/1000)), mid (up to N/2) and high (above N/2), each
    sorted."""
    rare_max = max(5, n_docs // 1000)
    bands: dict[str, list[str]] = {"rare": [], "mid": [], "high": []}
    for t in sorted(dfs):
        d = dfs[t]
        bands["rare" if d <= rare_max else
              "high" if 2 * d > n_docs else "mid"].append(t)
    return bands


def write_pages(pages: list[Page], path: str) -> None:
    """Write a pages table (url, warc_ts, html, text, lang) as one
    parquet file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = [p.text for p in pages]
    table = pa.table({
        "url": pa.array([p.url for p in pages], pa.string()),
        "warc_ts": pa.array([p.warc_us for p in pages],
                            pa.timestamp("us", tz="UTC")),
        "html": pa.array([zlib.compress(t.encode("utf-8")) for t in texts],
                         pa.binary()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * len(pages), pa.string()),
    })
    pq.write_table(table, path)
