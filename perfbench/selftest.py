"""Self-test of the benchmark's input generator.

    python3 perfbench/selftest.py

Checks that the same seed gives byte-identical inputs and another seed
different ones; that the build corpus has no row the build routes to
the Python tokenizer (``index.build.SQL_UNSAFE_CHAR``) and the
multilingual corpus has the stated share; that every vocabulary
stratum, absent terms included, and every query shape appear in the
query mix; and that the update stream keeps its promises.  Exits
non-zero on the first failed check.
"""

from __future__ import annotations

import filecmp
import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import corpus  # noqa: E402

N = 2_000


def _check(ok: bool, what: str) -> None:
    if not ok:
        print(f"selftest FAILED: {what}")
        sys.exit(1)
    print(f"ok  {what}")


def _dump(seed: int, path: str) -> None:
    lex = corpus.Lexicon.make(seed)
    corpus.write_pages(corpus.corpus(seed, 300, False, lex),
                       os.path.join(path, "build"))
    corpus.write_pages(corpus.corpus(seed, 300, True, lex),
                       os.path.join(path, "multi"))
    st = corpus.update_stream(seed, 200, 2, 40, 5, lex)
    for b in st.batches:
        corpus.write_pages(b.pages, os.path.join(path, f"batch{b.batch_id}"))
    with open(os.path.join(path, "queries.json"), "w") as f:
        json.dump([[q.shape, q.body, q.strata]
                   for q in corpus.query_mix(seed, 200, True, lex)]
                  + [b.deletes for b in st.batches]
                  + corpus.get_keys(seed, st.base.url, 100), f)


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files,
                                           shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d))
        for d in cmp.common_dirs)


def main() -> None:
    with tempfile.TemporaryDirectory(dir=HERE) as tmp:
        for name, seed in (("a", 11), ("b", 11), ("c", 12)):
            _dump(seed, os.path.join(tmp, name))
        _check(_same_tree(os.path.join(tmp, "a"), os.path.join(tmp, "b")),
               "same seed -> byte-identical parquet, queries and stream")
        diff = [d for d in ("build", "multi", "batch0")
                if _same_tree(os.path.join(tmp, "a", d),
                              os.path.join(tmp, "c", d))]
        _check(not diff and not filecmp.cmp(
            os.path.join(tmp, "a", "queries.json"),
            os.path.join(tmp, "c", "queries.json"), shallow=False),
            "another seed -> different inputs")

    import regex

    from rusticsearch_spark.index.build import SQL_UNSAFE_CHAR
    unsafe = regex.compile("(?V1)" + SQL_UNSAFE_CHAR)
    lex = corpus.Lexicon.make(5)
    plain = corpus.corpus(5, N, False, lex)
    _check(not any(unsafe.search(t) or unsafe.search(u)
                   for t, u in zip(plain.text, plain.url)),
           "build corpus: zero rows match SQL_UNSAFE_CHAR")
    multi = corpus.corpus(5, N, True, lex)
    share = sum(1 for t in multi.text if unsafe.search(t)) / N
    want = corpus.ACCENTED_PAGE_SHARE + corpus.CJK_PAGE_SHARE
    _check(abs(share - want) < 0.03,
           f"multilingual corpus: {share:.3f} of rows match "
           f"SQL_UNSAFE_CHAR (stated {want:.2f})")
    lengths = [len(t.split()) for t in multi.text]
    mean = sum(lengths) / N
    _check(0.85 * corpus.MEAN_TOKENS < mean < 1.15 * corpus.MEAN_TOKENS,
           f"page length mean {mean:.0f} tokens "
           f"(stated ~{corpus.MEAN_TOKENS})")
    hosts = {}
    for u in multi.url:
        h = u.split("/")[2]
        hosts[h] = hosts.get(h, 0) + 1
    top = max(hosts.values())
    _check(top > 20 * (N / len(hosts)) / 10,
           f"url hosts are skewed (top host {top} pages, "
           f"{len(hosts)} hosts)")

    mix = corpus.query_mix(5, 110, True, lex)
    strata = {s for q in mix for s in q.strata}
    shapes = {q.shape for q in mix}
    _check(strata == set(corpus.STRATA),
           f"query mix covers every stratum {sorted(strata)}")
    _check(shapes == set(corpus.QUERY_SHAPES),
           f"query mix covers every shape ({len(shapes)})")
    words = set()
    for t in multi.text:
        words.update(w.strip(".,").lower() for w in t.split())
    _check(not words & set(lex.absent), "absent words occur in no page")

    st = corpus.update_stream(5, 500, 3, 60, 8, lex)
    live = set(st.base.url)
    for b in st.batches:
        batch_keys = set(b.pages.url)
        recrawl = b.pages.url[:b.n_recrawl]
        _check(set(recrawl) <= live and not batch_keys & set(b.deletes)
               and set(b.deletes) <= live,
               f"batch {b.batch_id}: re-crawls and deletes hit live keys, "
               f"disjoint from each other")
        prev = st.live_after[b.batch_id - 1] if b.batch_id else {
            u: (t, g) for u, t, g in zip(st.base.url, st.base.text,
                                          st.base.lang)}
        _check(all(prev[u][0] != t for u, t in
                   zip(recrawl, b.pages.text)),
               f"batch {b.batch_id}: every re-crawl changes the text")
        live = (live | batch_keys) - set(b.deletes)
        _check(set(st.live_after[b.batch_id]) == live,
               f"batch {b.batch_id}: expected live set "
               f"({len(live)} keys)")
    print("selftest ok")


if __name__ == "__main__":
    main()
