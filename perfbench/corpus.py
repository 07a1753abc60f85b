"""Seeded generator for the benchmark's inputs.

Everything the benchmark feeds the program comes from here, and every
value is a pure function of ``(seed, sizes)``:

* a Common-Crawl-style page table ``(url, warc_ts, html, text, lang)``
  with a ~50k-word synthetic vocabulary whose term frequencies follow
  Zipf(1.07), log-normal page lengths (mean ~310 tokens), Zipf-skewed
  url hosts and a stated share of pages that carry accented-Latin or
  CJK words;
* a query mix over head / torso / tail / absent vocabulary strata and
  the query shapes the engine supports;
* an update stream of upsert batches (half re-crawls of existing urls
  with changed text, half new urls) plus key deletes, with the live
  key set the index must hold after every batch.

The program under test only ever sees the parquet files written by
``write_pages``.  Nothing here imports Spark.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple

import numpy as np

VOCAB_SIZE = 50_000
ZIPF_S = 1.07
MEAN_TOKENS = 310
LOGNORMAL_SIGMA = 0.8
N_HOSTS = 2_000
HOST_ZIPF_S = 1.1
#: vocabulary strata by frequency rank (1-based, inclusive upper)
HEAD_MAX_RANK = 100
TORSO_MAX_RANK = 2_000
STRATA = ("head", "torso", "tail", "absent")

#: the multilingual corpus: share of pages with accented-Latin words,
#: share with CJK words (the rest are all-ASCII)
ACCENTED_PAGE_SHARE = 0.20
CJK_PAGE_SHARE = 0.10
#: share of a non-ASCII page's tokens drawn from its own lexicon
FOREIGN_TOKEN_SHARE = 0.15

ASCII_LANGS = ("en", "en", "en", "en", "nl", "it")
ACCENTED_LANGS = ("fr", "de", "es")
CJK_LANGS = ("zh", "ja")

_ONSETS = ("b", "c", "d", "f", "g", "h", "j", "k", "l", "m", "n", "p",
           "r", "s", "t", "v", "w", "z", "br", "ch", "cl", "dr", "fl",
           "gr", "pl", "pr", "sh", "st", "th", "tr")
_VOWELS = ("a", "e", "i", "o", "u", "ai", "ea", "io", "ou")
_CODAS = ("", "", "", "n", "r", "s", "t", "l", "m", "nd", "st", "rk")
_ACCENT = {"a": "àáâä", "e": "éèêë", "i": "íïî", "o": "óöôø",
           "u": "úüû", "c": "ç", "n": "ñ", "s": "ß"}
_EPOCH = _dt.datetime(2024, 1, 1)


def _words(rng: np.random.Generator, n: int, taken: set,
           min_syl: int = 1, max_syl: int = 4) -> List[str]:
    """``n`` distinct pronounceable lowercase ASCII words not in
    ``taken`` (which is updated)."""
    out: List[str] = []
    while len(out) < n:
        m = 2 * (n - len(out)) + 64
        syl = rng.integers(min_syl, max_syl + 1, m)
        on = rng.integers(len(_ONSETS), size=(m, max_syl))
        vo = rng.integers(len(_VOWELS), size=(m, max_syl))
        co = rng.integers(len(_CODAS), size=(m, max_syl))
        for i in range(m):
            w = "".join(_ONSETS[on[i, j]] + _VOWELS[vo[i, j]]
                        + _CODAS[co[i, j]] for j in range(syl[i]))
            if w not in taken:
                taken.add(w)
                out.append(w)
                if len(out) == n:
                    break
    return out


def _accent(rng: np.random.Generator, word: str) -> str:
    """Replace one or two accentable letters with an accented form."""
    chars = list(word)
    spots = [i for i, c in enumerate(chars) if c in _ACCENT]
    if not spots:
        return word + "é"
    for i in rng.choice(spots, size=min(len(spots), 2), replace=False):
        alts = _ACCENT[chars[i]]
        chars[i] = alts[rng.integers(len(alts))]
    return "".join(chars)


def _cjk_word(rng: np.random.Generator) -> str:
    """Two or three Han ideographs, or a katakana run."""
    if rng.random() < 0.7:
        return "".join(chr(int(c)) for c in
                       rng.integers(0x4E00, 0x9FA5, rng.integers(2, 4)))
    return "".join(chr(int(c)) for c in
                   rng.integers(0x30A2, 0x30F3, rng.integers(2, 5)))


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = np.arange(1, n + 1, dtype=np.float64) ** -s
    c = np.cumsum(w)
    return c / c[-1]


def _draw(rng: np.random.Generator, cdf: np.ndarray, size) -> np.ndarray:
    """0-based Zipf ranks drawn through the cumulative weights."""
    return np.minimum(np.searchsorted(cdf, rng.random(size)), len(cdf) - 1)


@dataclass
class Lexicon:
    """The vocabulary: ASCII words by frequency rank, the accented and
    CJK lexicons, and words guaranteed absent from every page."""
    ascii: List[str]
    accented: List[str]
    cjk: List[str]
    absent: List[str]
    cdf: np.ndarray
    foreign_cdf: np.ndarray

    @staticmethod
    def make(seed: int) -> "Lexicon":
        rng = np.random.default_rng([seed, 1])
        taken: set = set()
        ascii_words = _words(rng, VOCAB_SIZE, taken)
        # absent words share the alphabet and length profile, so the
        # dictionary search for them is as costly as for real words
        absent = _words(rng, 400, taken, min_syl=2)
        accented = list(dict.fromkeys(
            _accent(rng, w) for w in _words(rng, 3_000, taken)))
        cjk = list(dict.fromkeys(_cjk_word(rng) for _ in range(2_000)))
        return Lexicon(ascii_words, accented, cjk, absent,
                       _zipf_cdf(len(ascii_words), ZIPF_S),
                       _zipf_cdf(min(len(accented), len(cjk)), ZIPF_S))


@dataclass
class Pages:
    """Column-wise page table (one entry per page)."""
    url: List[str]
    warc_ts: List[_dt.datetime]
    html: List[bytes]
    text: List[str]
    lang: List[str]

    def __len__(self) -> int:
        return len(self.url)

    def rows(self, idx) -> "Pages":
        return Pages(*[[col[i] for i in idx] for col in
                       (self.url, self.warc_ts, self.html, self.text,
                        self.lang)])

    def input_bytes(self) -> int:
        """url + text + lang bytes: the indexed input volume."""
        return sum(len(u.encode()) + len(t.encode()) + len(g.encode())
                   for u, t, g in zip(self.url, self.text, self.lang))


def _render_text(rng: np.random.Generator, words: List[str]) -> str:
    """Words → sentences: capitalised first word, 6-18 words each,
    commas now and then, ". " between sentences."""
    out: List[str] = []
    i, n = 0, len(words)
    while i < n:
        k = int(rng.integers(6, 19))
        sent = words[i:i + k]
        i += k
        if rng.random() < 0.3 and len(sent) > 3:
            j = int(rng.integers(1, len(sent) - 1))
            sent[j] = sent[j] + ","
        sent[0] = sent[0][:1].upper() + sent[0][1:]
        out.append(" ".join(sent) + ".")
    return " ".join(out)


def _render_html(text: str, lang: str) -> bytes:
    title = " ".join(text.split(" ", 6)[:6])
    return (f"<!DOCTYPE html><html lang=\"{lang}\"><head><title>{title}"
            f"</title></head><body><main><p>{text}</p></main>"
            f"<footer>&copy; example</footer></body></html>").encode()


def _host(rank: int) -> str:
    tld = ("com", "org", "net", "io", "de", "fr", "jp")[rank % 7]
    return f"site{rank}.example.{tld}"


class PageMaker:
    """Draws pages from one lexicon; every page is a function of the
    generator's seed stream, so call order fixes the output."""

    def __init__(self, lex: Lexicon, seed: int, stream: int,
                 foreign_share: Tuple[float, float]):
        self.lex = lex
        self.rng = np.random.default_rng([seed, stream])
        self.host_cdf = _zipf_cdf(N_HOSTS, HOST_ZIPF_S)
        self.accented_share, self.cjk_share = foreign_share
        self.mu = np.log(MEAN_TOKENS) - LOGNORMAL_SIGMA ** 2 / 2

    def length(self) -> int:
        return int(np.clip(self.rng.lognormal(self.mu, LOGNORMAL_SIGMA),
                           12, 4_000))

    def body(self, marker: Optional[str] = None) -> Tuple[str, str]:
        """(text, lang) of one page; ``marker`` is appended as the
        final word (update batches tag their pages with it)."""
        rng, lex = self.rng, self.lex
        n = self.length()
        words = [lex.ascii[i] for i in _draw(rng, lex.cdf, n)]
        u = rng.random()
        if u < self.accented_share:
            pool, langs = lex.accented, ACCENTED_LANGS
        elif u < self.accented_share + self.cjk_share:
            pool, langs = lex.cjk, CJK_LANGS
        else:
            pool, langs = None, ASCII_LANGS
        if pool is not None:
            k = max(1, int(n * FOREIGN_TOKEN_SHARE))
            spots = rng.choice(n, size=k, replace=False)
            for s, w in zip(spots, _draw(rng, lex.foreign_cdf, k)):
                words[s] = pool[w]
        if marker is not None:
            words.append(marker)
        lang = langs[rng.integers(len(langs))]
        return _render_text(rng, words), lang

    def url(self, serial: int) -> str:
        host = _host(int(_draw(self.rng, self.host_cdf, 1)[0]) + 1)
        return f"https://{host}/p/{serial}"

    def pages(self, serials: List[int], urls: Optional[List[str]] = None,
              marker: Optional[str] = None) -> Pages:
        cols: Dict[str, list] = {k: [] for k in
                                 ("url", "warc_ts", "html", "text", "lang")}
        for i, s in enumerate(serials):
            text, lang = self.body(marker)
            cols["url"].append(urls[i] if urls else self.url(s))
            cols["warc_ts"].append(_EPOCH + _dt.timedelta(
                seconds=int(self.rng.integers(0, 90 * 86400))))
            cols["html"].append(_render_html(text, lang))
            cols["text"].append(text)
            cols["lang"].append(lang)
        return Pages(**cols)


def corpus(seed: int, n_pages: int, multilingual: bool,
           lex: Optional[Lexicon] = None) -> Pages:
    """The bulk corpus: all-ASCII, or ~30 % pages with non-ASCII words."""
    lex = lex or Lexicon.make(seed)
    share = ((ACCENTED_PAGE_SHARE, CJK_PAGE_SHARE) if multilingual
             else (0.0, 0.0))
    return PageMaker(lex, seed, 2, share).pages(list(range(n_pages)))


def write_pages(pages: Pages, path: str, n_files: int = 4) -> None:
    """Write the page table as ``n_files`` parquet files under ``path``
    (several files, so Spark scans it with several tasks)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(path, exist_ok=True)
    schema = pa.schema([("url", pa.string()),
                        ("warc_ts", pa.timestamp("us")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())])
    n = len(pages)
    for f in range(n_files):
        lo, hi = f * n // n_files, (f + 1) * n // n_files
        part = pages.rows(range(lo, hi))
        pq.write_table(pa.table(
            {"url": part.url, "warc_ts": part.warc_ts, "html": part.html,
             "text": part.text, "lang": part.lang}, schema=schema),
            os.path.join(path, f"part-{f:03d}.parquet"))


# -- queries ------------------------------------------------------------

QUERY_SHAPES = ("term", "match_or", "match_and", "prefix", "wildcard",
                "fuzzy", "filtered", "dis_max", "not", "bool", "count")


@dataclass
class Query:
    shape: str
    body: Optional[dict]        # None = match_all count
    strata: Tuple[str, ...]     # vocabulary strata of its words
    is_count: bool = False


def _stratum_word(rng: np.random.Generator, lex: Lexicon,
                  stratum: str, multilingual: bool) -> str:
    if stratum == "absent":
        return lex.absent[rng.integers(len(lex.absent))]
    if multilingual and stratum == "tail" and rng.random() < 0.3:
        # non-ASCII query words (matched through the same folding)
        pool = lex.accented if rng.random() < 0.6 else lex.cjk
        return pool[int(_draw(rng, lex.foreign_cdf, 1)[0])]
    lo, hi = {"head": (0, HEAD_MAX_RANK),
              "torso": (HEAD_MAX_RANK, TORSO_MAX_RANK),
              "tail": (TORSO_MAX_RANK, len(lex.ascii))}[stratum]
    if stratum == "tail":
        # tail words that actually occur: Zipf draw restricted to tail
        base = lex.cdf[lo - 1]
        tail_cdf = (lex.cdf[lo:] - base) / (1.0 - base)
        return lex.ascii[int(_draw(rng, tail_cdf, 1)[0]) + lo]
    return lex.ascii[int(rng.integers(lo, hi))]


def query_mix(seed: int, n: int, multilingual: bool,
              lex: Optional[Lexicon] = None) -> List[Query]:
    """``n`` queries cycling through every shape; each query's words
    come from strata drawn uniformly, and the first four queries of
    every shape cycle cover all four strata."""
    lex = lex or Lexicon.make(seed)
    rng = np.random.default_rng([seed, 3])
    out: List[Query] = []
    for i in range(n):
        shape = QUERY_SHAPES[i % len(QUERY_SHAPES)]
        rot = i // len(QUERY_SHAPES)

        def word(j: int = 0) -> Tuple[str, str]:
            st = STRATA[(rot + j) % 4] if j == 0 else \
                STRATA[int(rng.integers(4))]
            return _stratum_word(rng, lex, st, multilingual), st

        out.append(_shape(shape, word, rng))
    return out


def _shape(shape: str, word, rng: np.random.Generator) -> Query:
    w, s = word()
    if shape == "term":
        return Query(shape, {"term": {"text": w}}, (s,))
    if shape in ("match_or", "match_and"):
        ws = [(w, s)] + [word(j) for j in range(1, int(rng.integers(1, 5)))]
        text = " ".join(x for x, _ in ws)
        body = {"match": {"text": text}} if shape == "match_or" else \
            {"match": {"text": {"query": text, "operator": "and"}}}
        return Query(shape, body, tuple(x for _, x in ws))
    if shape == "prefix":
        return Query(shape, {"prefix": {"text": w[:max(2, len(w) // 2)]}},
                     (s,))
    if shape == "wildcard":
        k = max(1, len(w) // 2)
        return Query(shape, {"wildcard": {"text": w[:k] + "*" + w[-1]}},
                     (s,))
    if shape == "fuzzy":
        return Query(shape, {"fuzzy": {"text": w}}, (s,))
    if shape == "filtered":
        w2, s2 = word(1)
        return Query(shape, {"filtered": {
            "query": {"match": {"text": f"{w} {w2}"}},
            "filter": {"term": {"lang": "en"}}}}, (s, s2))
    if shape == "dis_max":
        w2, s2 = word(1)
        return Query(shape, {"multi_match": {
            "query": f"{w} {w2}", "fields": ["text^2", "lang"]}}, (s, s2))
    if shape == "not":
        return Query(shape, {"not": {"match": {"text": w}}}, (s,))
    if shape == "bool":
        w2, s2 = word(1)
        w3, s3 = word(2)
        return Query(shape, {"or": [
            {"and": [{"match": {"text": w}}, {"match": {"text": w2}}]},
            {"and": [{"term": {"text": w3}},
                     {"not": {"term": {"lang": "en"}}}]}]}, (s, s2, s3))
    # count: _count of a match query, or of match_all
    if rng.random() < 0.25:
        return Query(shape, None, ("head",), is_count=True)
    return Query(shape, {"match": {"text": w}}, (s,), is_count=True)


def get_keys(seed: int, urls: List[str], n: int) -> List[str]:
    """A Zipf-skewed sample of ``n`` keys (popular pages are fetched
    more often), drawn over a seeded permutation of ``urls``."""
    rng = np.random.default_rng([seed, 4])
    order = rng.permutation(len(urls))
    ranks = _draw(rng, _zipf_cdf(len(urls), 1.0), n)
    return [urls[order[r]] for r in ranks]


# -- update stream ------------------------------------------------------

@dataclass
class Batch:
    batch_id: int
    pages: Pages                # upserts: re-crawls first, then new urls
    n_recrawl: int
    deletes: List[str]
    marker: str                 # word every page of this batch carries


@dataclass
class UpdateStream:
    base: Pages
    batches: List[Batch]
    #: url -> (text, lang) after each batch (index b = after batch b)
    live_after: List[Dict[str, tuple]] = field(default_factory=list)


def update_stream(seed: int, n_base: int, n_batches: int,
                  batch_pages: int, n_deletes: int,
                  lex: Optional[Lexicon] = None) -> UpdateStream:
    """A multilingual base corpus, then ``n_batches`` upsert batches
    of ``batch_pages`` pages (half re-crawls of live urls with new
    text, half new urls) and ``n_deletes`` key deletes each."""
    lex = lex or Lexicon.make(seed)
    share = (ACCENTED_PAGE_SHARE, CJK_PAGE_SHARE)
    base = PageMaker(lex, seed, 2, share).pages(list(range(n_base)))
    maker = PageMaker(lex, seed, 5, share)
    rng = np.random.default_rng([seed, 6])
    live: Dict[str, tuple] = dict(zip(base.url, zip(base.text, base.lang)))
    serial = n_base
    stream = UpdateStream(base, [])
    for b in range(n_batches):
        keys = sorted(live)
        n_re = batch_pages // 2
        pick = rng.choice(len(keys), size=n_re + n_deletes, replace=False)
        recrawl = [keys[i] for i in pick[:n_re]]
        deletes = [keys[i] for i in pick[n_re:]]
        new = list(range(serial, serial + batch_pages - n_re))
        serial += len(new)
        marker = f"updbatch{b}x{seed % 1000}"
        # the marker keeps re-crawled text distinct from the old text
        # and makes each batch's pages findable with one term query
        pages = maker.pages([0] * n_re + new,
                            urls=recrawl + [maker.url(s) for s in new],
                            marker=marker)
        stream.batches.append(Batch(b, pages, n_re, deletes, marker))
        live.update(zip(pages.url, zip(pages.text, pages.lang)))
        for k in deletes:
            del live[k]
        stream.live_after.append(dict(live))
    return stream
