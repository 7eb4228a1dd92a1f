"""Seeded input generators for the benchmark.

Everything the program under test reads is written here from ``--seed``:
the same seed gives byte-identical files. Pages are built in two steps:
a seed-perturbed ``documents.parquet`` is written with numpy/pyarrow, and
the package's own ``synthesize_pages`` turns it into the pages table (the
program sees only the generated parquet). The curation corpus and the
targets CSV are generated directly.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The 30-word vocabulary of the synthetic corpus. The boundary markers
# the full-process job searches for ("STREAM WINDOW", "LINE SORT", ...)
# are pairs of these words, so marker hits occur at the usual rate.
PAGE_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
PAGE_LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))

# Curation corpus: English stopwords (the language screen keeps a doc
# whose best stopword-hit language is en) plus content words, and one
# stopword set per other language for the docs the screen must drop.
EN_WORDS = (
    "the and of to in is that with data model corpus crawl page site web "
    "text token filter quality score batch stream table index query join "
    "merge shard graph node edge rank vector cluster sample window metric "
    "river mountain forest ocean city market garden school music travel "
    "history science energy health family season kitchen library bridge"
).split()
OTHER_WORDS = {
    "es": "el la de que los las una por casa libro agua ciudad".split(),
    "fr": "le la les des est dans pour une maison livre eau ville".split(),
    "de": "der die das und ist nicht mit ein haus buch wasser stadt".split(),
}
BOILERPLATE = (
    "copyright all rights reserved by the site owner",
    "subscribe to the newsletter for weekly updates",
    "accept cookies to continue reading this page",
    "share this page with your friends and family",
)
N_HOSTS = 40
BLOCKED_HOST = "site-3.example.com"

# Full-process targets: names tokenized and synonym-expanded by the job,
# refs used as anchors. One target never matches.
TARGETS = (
    ("table query value", "TABLE"),
    ("order arrange", "ORDER"),
    ("stream window", "STREAM"),
    ("merge join", "MERGE"),
    ("zzznope qqqmiss", "ZZZ"),
)


def write_documents(path: str, seed: int, n_docs: int) -> None:
    """The ``documents`` table ``synthesize_pages`` reads:
    (doc_id, text, lang, source, n_chars), 10-100 words per doc."""
    rng = np.random.default_rng(seed)
    # The seed moves words and lengths between docs; the multiset of doc
    # lengths and the language mix are the same for every seed, so every
    # seed gives the job the same amount of work.
    lens = rng.permutation(np.resize(np.arange(10, 101), n_docs))
    words = np.array(PAGE_WORDS)
    flat = words[rng.integers(0, len(words), size=int(lens.sum()))]
    bounds = np.concatenate(([0], np.cumsum(lens)))
    texts = [" ".join(flat[bounds[i] : bounds[i + 1]]) for i in range(n_docs)]
    langs, weights = zip(*PAGE_LANGS)
    lang = rng.permutation(np.repeat(langs, np.round(np.array(weights) * n_docs + 0.5).astype(int))[:n_docs])
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(lang.tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, path)


def _sentence(rng: np.random.Generator, vocab: list[str], n: int) -> str:
    return " ".join(vocab[i] for i in rng.integers(0, len(vocab), size=n))


def write_curation_docs(path: str, bench_path: str, seed: int, n_docs: int) -> None:
    """The docs table ``job_curate.build_output`` reads:
    (doc_id, url, text, lang, source), multi-line English text built from
    distinct seeded sentences, with planted shares of every verdict the
    screens give (blocked host, other language, too short, PII,
    boilerplate lines, exact and near duplicates, benchmark overlap).
    ``bench_path`` gets the eval docs (one ``text`` column) whose word
    8-grams drive decontamination."""
    rng = np.random.default_rng(seed)
    # Fixed share of each kind; the seed only decides which doc gets which.
    kinds = rng.permutation(
        np.resize(np.array(["normal"] * 15 + ["exact", "near", "lang", "lang", "short", "pii"]), n_docs)
    )
    texts: list[str] = []
    for i, kind in enumerate(kinds):
        if i == 0 and kind in ("exact", "near"):
            kind = "normal"
        if kind == "exact":
            texts.append(texts[int(rng.integers(0, i))])
        elif kind == "near":
            words = texts[int(rng.integers(0, i))].split(" ")
            for k in rng.integers(0, len(words), size=max(1, len(words) // 40)):
                words[k] = EN_WORDS[int(rng.integers(0, len(EN_WORDS)))]
            texts.append(" ".join(words))
        elif kind == "lang":
            vocab = OTHER_WORDS[("es", "fr", "de")[int(rng.integers(0, 3))]]
            texts.append("\n".join(_sentence(rng, vocab, 12) for _ in range(6)))
        elif kind == "short":
            texts.append(_sentence(rng, EN_WORDS, 5 + i % 15))
        else:
            lines = [_sentence(rng, EN_WORDS, 12) for _ in range(5 + i % 8)]
            if kind == "pii":
                lines.insert(1, f"mail u{i}@example.com or admin{i}@example.org")
            if rng.random() < 0.5:
                lines.append(BOILERPLATE[int(rng.integers(0, len(BOILERPLATE)))])
            texts.append("\n".join(lines))
    hosts = rng.permutation(np.resize(np.arange(N_HOSTS), n_docs))
    urls = [f"https://site-{h}.example.com/p/{i}" for i, h in enumerate(hosts)]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(np.arange(n_docs), pa.int64()),
                "url": pa.array(urls, pa.string()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * n_docs, pa.string()),
                "source": pa.array([f"src{h % 20}" for h in hosts], pa.string()),
            }
        ),
        path,
    )
    # Eval docs quote the first lines of a few corpus docs (never the
    # site boilerplate, which no eval set contains).
    bench_ids = sorted(rng.choice(n_docs, size=max(1, n_docs // 50), replace=False))
    quotes = [
        "\n".join(ln for ln in texts[i].split("\n")[:3] if ln not in BOILERPLATE)
        for i in bench_ids
    ]
    pq.write_table(pa.table({"text": pa.array(quotes, pa.string())}), bench_path)


def write_targets_csv(path: str) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("inmueble,folio\n")
        for name, ref in TARGETS:
            fh.write(f"{name},{ref}\n")
