"""Seeded Common-Crawl-style crawl for the benchmark (numpy randomness only).

One seed gives identical bytes: every draw comes from one
``numpy.random.default_rng(seed)`` stream, in a fixed order, and nothing
reads the clock, the locale or dict order.

Shape of the corpus. Each constant below names its source, or says that
it is an unverified choice of this benchmark:

* Vocabulary size follows Heaps' law from the crawl's token count,
  ``V = HEAPS_K * tokens ** HEAPS_BETA``. Tokens are drawn from a
  Zipf(``ZIPF_S``) law over those V terms, so a few terms are in almost
  every page and most are rare. The vocabulary is never capped: the
  merge's cost grows with the number of (term, range) groups, and that
  cost is part of what is measured.
* Page text length (in tokens) is lognormal with the mean of a published
  collection.
* HTML comes from ``functions.analysis.wrap_html``, so extraction gives
  back the text byte for byte. A share of pages has an ``&``, which takes
  the extractor's entity-unescape path.
* The base crawl carries a duplicate slice: older captures of some urls
  with other text, which the latest-per-url dedup must drop.
* The re-crawl slice has three parts: re-crawled pages (same url, newer
  capture, new text), new pages (new urls) and emptied pages (same url,
  newer capture, no text left).
* Queries have 1-4 terms, drawn with the corpus's Zipf weights (an
  unverified choice), plus a small share of out-of-vocabulary terms.

Sources:

[IIR] C. D. Manning, P. Raghavan, H. Schuetze, *Introduction to
      Information Retrieval*, Cambridge University Press, 2008.
[SHMM] C. Silverstein, M. Henzinger, H. Marais, M. Moricz, "Analysis of a
      very large web search engine query log", SIGIR Forum 33(1), 1999.

The collection statistics come from Reuters-RCV1 (newswire), the
collection [IIR] publishes them for; no figure here is measured on
Common Crawl text.

Ground truth is kept per url, so a checker can compare engine output
with an oracle over the latest-per-url state and with the generator's
own ``n_docs`` and ``df`` counts.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

import numpy as np

# Heaps' law fitted on Reuters-RCV1: k = 44, b = 0.49 ([IIR] 5.1.1).
HEAPS_K = 44.0
HEAPS_BETA = 0.49
# Zipf's law, collection frequency of the i-th term ~ 1/i ([IIR] 5.1.2).
ZIPF_S = 1.0
# Mean tokens per document in Reuters-RCV1: 200 ([IIR] table 4.2). The
# lognormal shape, its sigma and the clip bounds are unverified.
LEN_MEAN = 200
LEN_SIGMA = 0.8
LEN_MIN, LEN_MAX = 4, 3000
# Share of web queries with 1, 2, 3 and more than 3 terms: 25.8%, 26.0%,
# 15.0% and 12.6% ([SHMM]; the 20.6% empty queries are left out and
# "more than 3" is drawn as 4).
QUERY_TERMS_P = np.array([25.8, 26.0, 15.0, 12.6]) / 79.4
# Unverified choices of this benchmark: the share of pages with an "&",
# of older duplicate captures, of re-crawled, new and emptied pages in the
# re-crawl slice, and of out-of-vocabulary query terms.
AMP_SHARE = 0.2
DUP_SHARE = 0.02
RECRAWL_SHARE = 0.05
NEW_SHARE = 0.03
EMPTIED_SHARE = 0.01
OOV_SHARE = 0.05
T0 = np.datetime64("2025-01-01T00:00:00", "us")


@dataclass
class Pages:
    """Page rows in the engine's input layout (url, warc_ts, html, lang)."""

    url: list[str]
    warc_ts: np.ndarray
    html: list[bytes]

    def __len__(self) -> int:
        return len(self.url)


@dataclass
class Crawl:
    """A generated crawl and its ground truth."""

    seed: int | list[int]
    vocab: np.ndarray  # term string by Zipf rank
    base: Pages  # epoch-0 crawl, duplicate slice included
    recrawl: Pages  # re-crawl slice: re-crawled, new and emptied pages
    base_text: dict[str, str]  # latest-per-url text after the base crawl
    final_text: dict[str, str]  # latest-per-url text after the re-crawl
    base_df: np.ndarray  # df per vocab rank over base_text
    final_df: np.ndarray  # df per vocab rank over final_text
    queries: list[str]
    n_tokens: int  # tokens in base_text; the vocabulary size derives from it
    n_recrawled: int
    n_new: int
    n_emptied: int


def heaps_vocab_size(n_tokens: int) -> int:
    return max(16, int(math.ceil(HEAPS_K * n_tokens**HEAPS_BETA)))


def _word(n: int) -> str:
    """Bijective base-26 spelling of n >= 1: a, b, ..., z, aa, ab, ..."""
    out = []
    while n > 0:
        n, r = divmod(n - 1, 26)
        out.append(chr(97 + r))
    return "".join(reversed(out))


def _vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    # Frequent terms get short spellings (three letters and up), as in
    # natural language; the seeded shuffle within each spelling length
    # keeps the rank -> term map from being the same for every seed.
    # Out-of-vocabulary query terms contain digits, so none is a term.
    ids = np.arange(703, 703 + size)
    lens = np.floor(np.log(ids) / np.log(26)).astype(np.int64)
    for n in np.unique(lens):
        sel = np.flatnonzero(lens == n)
        ids[sel] = ids[sel][rng.permutation(len(sel))]
    return np.array([_word(int(i)) for i in ids], dtype=object)


def _zipf_p(size: int) -> np.ndarray:
    w = 1.0 / np.arange(1, size + 1, dtype=np.float64) ** ZIPF_S
    return w / w.sum()


def _lengths(rng: np.random.Generator, n: int) -> np.ndarray:
    # A lognormal's mean is exp(mu + sigma^2 / 2).
    x = rng.lognormal(math.log(LEN_MEAN) - LEN_SIGMA**2 / 2, LEN_SIGMA, n)
    return np.clip(np.rint(x), LEN_MIN, LEN_MAX).astype(np.int64)


def _texts(rng, vocab, p, lengths) -> tuple[list[str], list[np.ndarray]]:
    """Draw each page's tokens; return texts and per-page term ranks."""
    ranks = rng.choice(len(vocab), size=int(lengths.sum()), p=p)
    amp = rng.random(len(lengths)) < AMP_SHARE
    ends = np.cumsum(lengths)
    texts, per_doc = [], []
    for i, (s, e) in enumerate(zip(ends - lengths, ends)):
        r = ranks[s:e]
        words = vocab[r].tolist()
        words[0] = words[0].capitalize()
        if amp[i] and len(words) > 2:
            words[len(words) // 2] += " &"
        texts.append(" ".join(words) + ".")
        per_doc.append(r)
    return texts, per_doc


def _df(per_doc: list[np.ndarray], size: int) -> np.ndarray:
    df = np.zeros(size, dtype=np.int64)
    for r in per_doc:
        df[np.unique(r)] += 1
    return df


def _html(text: str, n: int) -> bytes:
    from oculus_crawl_spark.functions.analysis import wrap_html

    return wrap_html(text, n)


def _url(site: int, n: int) -> str:
    return f"https://site{site:03d}.example.org/page/{n:09d}"


def generate(seed: int | list[int], n_docs: int, n_queries: int = 0) -> Crawl:
    """Generate a crawl of ``n_docs`` distinct urls plus its re-crawl slice."""
    rng = np.random.default_rng(seed)
    lengths = _lengths(rng, n_docs)
    size = heaps_vocab_size(int(lengths.sum()))
    vocab = _vocab(rng, size)
    p = _zipf_p(size)
    sites = rng.integers(0, 200, n_docs)
    urls = [_url(int(s), i) for i, s in enumerate(sites)]
    texts, ranks = _texts(rng, vocab, p, lengths)
    ts = T0 + rng.integers(0, 30 * 86400, n_docs).astype("timedelta64[s]")

    # Duplicate slice: older captures of some urls, with other text.
    dup = np.sort(rng.choice(n_docs, int(n_docs * DUP_SHARE), replace=False))
    dup_texts, _ = _texts(rng, vocab, p, _lengths(rng, len(dup)))
    dup_ts = ts[dup] - rng.integers(3600, 86400, len(dup)).astype("timedelta64[s]")
    order = rng.permutation(n_docs + len(dup))
    all_url = urls + [urls[i] for i in dup]
    all_ts = np.concatenate([ts, dup_ts])
    all_html = [_html(t, i) for i, t in enumerate(texts)] + [
        _html(t, int(i)) for i, t in zip(dup, dup_texts)
    ]
    base = Pages(
        [all_url[i] for i in order],
        all_ts[order],
        [all_html[i] for i in order],
    )
    base_text = dict(zip(urls, texts))

    # Re-crawl slice: disjoint re-crawled and emptied url sets, new urls.
    # At least one page of each part, so that a small crawl has them all.
    n_re = max(1, int(n_docs * RECRAWL_SHARE))
    n_gone = max(1, int(n_docs * EMPTIED_SHARE))
    n_new = max(1, int(n_docs * NEW_SHARE))
    pick = rng.choice(n_docs, n_re + n_gone, replace=False)
    re_idx, gone_idx = np.sort(pick[:n_re]), np.sort(pick[n_re:])
    re_texts, re_ranks = _texts(rng, vocab, p, _lengths(rng, n_re))
    new_sites = rng.integers(0, 200, n_new)
    new_urls = [_url(int(s), n_docs + i) for i, s in enumerate(new_sites)]
    new_texts, new_ranks = _texts(rng, vocab, p, _lengths(rng, n_new))
    later = np.datetime64("2025-03-01T00:00:00", "us")
    r_url = [urls[i] for i in re_idx] + new_urls + [urls[i] for i in gone_idx]
    r_text = re_texts + new_texts + [""] * n_gone
    r_ts = later + rng.integers(0, 86400, len(r_url)).astype("timedelta64[s]")
    recrawl = Pages(r_url, r_ts, [_html(t, n_docs + i) for i, t in enumerate(r_text)])

    final_text = dict(base_text)
    final_ranks = list(ranks)
    for j, i in enumerate(re_idx):
        final_text[urls[i]] = re_texts[j]
        final_ranks[i] = re_ranks[j]
    for i in gone_idx:
        final_text[urls[i]] = ""
        final_ranks[i] = np.empty(0, dtype=np.int64)
    final_text.update(zip(new_urls, new_texts))
    final_ranks += new_ranks

    queries = []
    for _ in range(n_queries):
        n_terms = int(rng.choice(4, p=QUERY_TERMS_P)) + 1
        terms = vocab[rng.choice(size, n_terms, p=p)].tolist()
        oov = rng.random(n_terms) < OOV_SHARE
        terms = [
            f"q{rng.integers(0, 10**6)}x" if o else t for t, o in zip(terms, oov)
        ]
        queries.append(" ".join(terms))

    return Crawl(
        seed=seed,
        vocab=vocab,
        base=base,
        recrawl=recrawl,
        base_text=base_text,
        final_text=final_text,
        base_df=_df(ranks, size),
        final_df=_df(final_ranks, size),
        queries=queries,
        n_tokens=int(lengths.sum()),
        n_recrawled=n_re,
        n_new=n_new,
        n_emptied=n_gone,
    )


def _write_parquet(columns: dict, path: str, n_files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    n = len(next(iter(columns.values())))
    for f in range(n_files):
        lo, hi = n * f // n_files, n * (f + 1) // n_files
        tbl = pa.table({name: arr[lo:hi] for name, arr in columns.items()})
        pq.write_table(tbl, os.path.join(path, f"part-{f:04d}.parquet"))


def write_pages(pages: Pages, path: str, n_files: int) -> None:
    """Write pages as ``n_files`` parquet files, one scan task each."""
    import pyarrow as pa

    _write_parquet(
        {
            "url": pa.array(pages.url, pa.string()),
            "warc_ts": pa.array(pages.warc_ts, pa.timestamp("us", tz="UTC")),
            "html": pa.array(pages.html, pa.binary()),
            "lang": pa.array(["en"] * len(pages), pa.string()),
        },
        path,
        n_files,
    )


def write_documents(texts: dict[str, str], path: str, n_files: int) -> dict[int, str]:
    """Write (doc_id, text) with doc ids in url order; return doc_id -> url."""
    import pyarrow as pa

    urls = sorted(texts)
    _write_parquet(
        {
            "doc_id": pa.array(np.arange(len(urls), dtype=np.int64)),
            "text": pa.array([texts[u] for u in urls], pa.string()),
        },
        path,
        n_files,
    )
    return dict(enumerate(urls))
