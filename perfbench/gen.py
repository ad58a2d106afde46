"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed and size: the same arguments
give byte-identical Parquet files (pyarrow writes no timestamps or random ids
into the file). The engine only ever sees the files written here.

- ``notes``: an OMOP CDM ``NOTE`` table (FIXTURES.md section 1: 14 columns,
  upper-case names) with a long-tailed ``NOTE_TEXT`` width (median about
  1 KB, capped at 64 KB) that includes supplementary-plane characters, and
  ``PROVIDER_ID`` NULLs interleaved. The harness loads it into embedded Derby.
- ``corpus``: a documents table ``(doc_id, text, lang, source, n_chars)`` over
  a Zipfian vocabulary plus a benchmark table ``(bench_id, text)`` over a
  disjoint vocabulary, with planted documents that each fail exactly one
  stage of the hygienic pipeline.
"""

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STOPWORDS = ["the", "a", "of", "to", "and", "in", "is", "it"]
LANGS = ["en", "de", "fr", "es", "zh", "ja", "ru", "pt"]
SOURCES = [f"src{i}" for i in range(20)]
# supplementary-plane tokens: emoji and mathematical letters (4 UTF-8 bytes,
# 2 UTF-16 units each), so the dump path must carry surrogate pairs intact
ASTRAL = ["\U0001F600", "\U0001F9EC", "\U0001D518\U0001D52B", "\U00020BB7"]
ONSETS = ["b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s", "t", "v", "w"]
VOWELS = ["a", "e", "i", "o", "u"]
# benchmark words use letters the corpus vocabulary never does, so a 4-gram
# of a benchmark passage can only occur in a planted contaminated document
BENCH_ONSETS = ["qu", "x", "zy", "j"]
# the corpus is written as this many Parquet files, so its scan has that
# many splits, as a real corpus of many files would
CORPUS_FILES = 8

PLANTED = {
    # stage that drops the document -> share of the corpus
    "gopher": 0.02,
    "quality": 0.02,
    "repetition": 0.02,
    "decontamination": 0.01,
    "exact_dedup": 0.03,
    "near_dedup": 0.03,
}


def _words(rng, n, onsets, min_syl=1, max_syl=3):
    """n distinct pseudo-words made of onset+vowel syllables."""
    seen, out = set(STOPWORDS), []
    while len(out) < n:
        k = int(rng.integers(min_syl, max_syl + 1))
        w = "".join(onsets[int(rng.integers(len(onsets)))] + VOWELS[int(rng.integers(5))] for _ in range(k))
        if len(w) >= 3 and w not in seen:
            seen.add(w)
            out.append(w)
    return out


def zipf_probs(n, s):
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


# ------------------------------------------------------------------ NOTE


def note_rows(seed, n):
    """The NOTE table as a pyarrow Table plus the aggregates the dump checks."""
    rng = np.random.default_rng([seed, 1])
    vocab = np.array(STOPWORDS + _words(rng, 4000, ONSETS), dtype=object)
    probs = zipf_probs(len(vocab), 1.0)
    # long tail: lognormal bytes, median ~1 KB, capped at 64 KB
    target = np.minimum(np.exp(rng.normal(np.log(1000), 1.0, n)), 65536).astype(np.int64)
    n_words = np.maximum(target // 6, 3)
    flat = rng.choice(len(vocab), size=int(n_words.sum()), p=probs)
    astral = rng.random(n) < 0.05
    texts, pos = [], 0
    for i in range(n):
        k = int(n_words[i])
        toks = vocab[flat[pos:pos + k]].tolist()
        pos += k
        if astral[i]:
            toks[int(rng.integers(k))] = ASTRAL[i % len(ASTRAL)]
        texts.append(" ".join(toks))
    note_id = np.cumsum(rng.integers(1, 4, n)).astype(np.int64)
    base = datetime.date(2010, 1, 1)
    days = rng.integers(0, 5000, n)
    dates = [base + datetime.timedelta(days=int(d)) for d in days]
    secs = rng.integers(0, 86400, n)
    datetimes = [
        None if i % 10 == 3 else datetime.datetime.combine(dates[i], datetime.time()) + datetime.timedelta(seconds=int(secs[i]))
        for i in range(n)
    ]
    # NULLs interleaved, never in a fixed block
    provider = [None if (i % 3 == 1 or rng.random() < 0.1) else int(rng.integers(1, 5000)) for i in range(n)]
    visit = [None if rng.random() < 0.2 else int(v) for v in rng.integers(1, 10 ** 7, n)]
    # all NULL in the first 10 rows: the schema-by-sampling hazard
    visit_detail = [None if (i < 10 or rng.random() < 0.5) else int(rng.integers(1, 10 ** 7)) for i in range(n)]
    titles = [None if i % 7 == 0 else f"Note {i % 97} {vocab[i % 200]}" for i in range(n)]
    source_vals = [None if i % 5 == 0 else f"SRC-{int(rng.integers(1000))}" for i in range(n)]
    cols = {
        "NOTE_ID": pa.array(note_id, pa.int64()),
        "PERSON_ID": pa.array(rng.integers(1, max(2, n // 5), n), pa.int64()),
        "NOTE_DATE": pa.array(dates, pa.date32()),
        "NOTE_DATETIME": pa.array(datetimes, pa.timestamp("us")),
        "NOTE_TYPE_CONCEPT_ID": pa.array(rng.choice([44814637, 44814638, 44814639], n), pa.int64()),
        "NOTE_CLASS_CONCEPT_ID": pa.array(rng.choice([3030023, 3028733, 3035250, 3000958], n), pa.int64()),
        "NOTE_TITLE": pa.array(titles, pa.string()),
        "NOTE_TEXT": pa.array(texts, pa.string()),
        "ENCODING_CONCEPT_ID": pa.array(np.full(n, 32678), pa.int64()),
        "LANGUAGE_CONCEPT_ID": pa.array(np.full(n, 4180186), pa.int64()),
        "PROVIDER_ID": pa.array(provider, pa.int64()),
        "VISIT_OCCURRENCE_ID": pa.array(visit, pa.int64()),
        "VISIT_DETAIL_ID": pa.array(visit_detail, pa.int64()),
        "NOTE_SOURCE_VALUE": pa.array(source_vals, pa.string()),
    }
    table = pa.table(cols)
    fixed = sum(len(c) - c.null_count for k, c in cols.items() if not pa.types.is_string(c.type))
    text_bytes = sum(len(t.encode("utf-8")) for t in texts)
    other_bytes = sum(len(s.encode("utf-8")) for s in titles + source_vals if s is not None)
    manifest = {
        "rows": n,
        "sum_note_id": int(note_id.sum()),
        "sum_text_chars": sum(len(t) for t in texts),
        "sum_text_utf16": sum(len(t.encode("utf-16-le")) // 2 for t in texts),
        "null_provider": sum(p is None for p in provider),
        # "source bytes": UTF-8 bytes of every string value plus 8 bytes per
        # non-NULL fixed-width value — the denominator of dump MB/s
        "source_bytes": text_bytes + other_bytes + 8 * fixed,
    }
    return table, manifest


# ---------------------------------------------------------------- corpus


class _Sampler:
    """Zipfian token draws in bulk: one inverse-CDF lookup over uniforms,
    instead of a per-document ``rng.choice(p=...)`` that rebuilds the CDF."""

    def __init__(self, rng, vocab, probs):
        self.rng, self.vocab, self.cdf = rng, vocab, np.cumsum(probs)

    def __call__(self, n):
        idx = np.searchsorted(self.cdf, self.rng.random(n) * self.cdf[-1], side="right")
        return self.vocab[np.minimum(idx, len(self.vocab) - 1)].tolist()


def _natural(draw, n_tok):
    """A document that passes every row-local gate: enough words, Zipfian
    vocabulary (stop words at the head), sparse punctuation."""
    toks = draw(n_tok)
    toks[0], toks[1] = "the", "of"  # >= 2 distinct stop words, always
    for j in range(11, n_tok, 12):
        if toks[j] not in STOPWORDS:
            toks[j] = toks[j] + ("," if j % 24 else ".")
    return toks


def corpus_rows(seed, n):
    """(docs table, benchmark table, manifest of planted counts)."""
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(STOPWORDS + _words(rng, 20000, ONSETS), dtype=object)
    # Zipf over the vocabulary; the stop-word head carries about a quarter
    # of the tokens, which keeps the quality score well above its gate
    draw = _Sampler(rng, vocab, zipf_probs(len(vocab), 1.0))
    bench_vocab = _words(rng, 3000, BENCH_ONSETS, 2, 3)
    bench = [" ".join(rng.choice(bench_vocab, size=int(rng.integers(30, 60))).tolist()) for _ in range(300)]
    counts = {k: int(round(share * n)) for k, share in PLANTED.items()}
    n_natural = n - sum(counts.values())
    lengths = np.clip(np.exp(rng.normal(np.log(150), 0.6, n_natural)), 70, 800).astype(int)
    natural = [_natural(draw, int(k)) for k in lengths]
    # a few scrub targets inside natural documents: e-mails, long numbers
    for i in range(0, n_natural, 50):
        natural[i] += ["mail", f"ward{i}@example.org", "ref", str(10 ** 7 + i)]
    docs = [" ".join(t) for t in natural]
    # pick distinct natural originals for copies and near copies
    originals = rng.permutation(n_natural)
    exact_src = originals[: counts["exact_dedup"]]
    near_src = originals[counts["exact_dedup"]: counts["exact_dedup"] + counts["near_dedup"]]
    for i in exact_src:
        docs.append(docs[i])
    for i in near_src:
        toks = list(natural[i])
        # change a word of the body (every natural document has >= 70): a
        # changed e-mail of the appended scrub targets would scrub back to
        # the original and make an exact copy
        j = int(rng.integers(2, 60))
        toks[j] = "replaced" + toks[j]
        docs.append(" ".join(toks))
    for k in range(counts["gopher"]):
        if k % 2 == 0:  # too short
            docs.append(" ".join(_natural(draw, 20)[: int(rng.integers(5, 40))]))
        else:  # mostly numbers: fewer than 80% of words carry a letter
            toks = _natural(draw, 80)
            for j in range(2, 80, 2):
                toks[j] = str(int(rng.integers(1, 999999)))
            docs.append(" ".join(toks))
    for _ in range(counts["quality"]):
        # long enough for Gopher, but punctuation on every content word and
        # only two stop words: score <= 0.5*0.65 + 0.3*0.1 + 0 < 0.4275
        k = int(rng.integers(55, 65))
        toks = [w + ";" for w in rng.choice(vocab[8:200], size=k).tolist()]
        toks[0], toks[1] = "the", "of"
        docs.append(" ".join(toks))
    for _ in range(counts["repetition"]):
        # content words only: a stop-word-heavy phrase could push the mean
        # word length under Gopher's floor and fail the wrong stage
        phrase = ["the", "of"] + rng.choice(vocab[8:2000], size=8).tolist()
        toks = phrase * int(rng.integers(10, 16)) + _natural(draw, 30)
        docs.append(" ".join(toks))
    for _ in range(counts["decontamination"]):
        toks = _natural(draw, int(rng.integers(80, 300)))
        passage = bench[int(rng.integers(len(bench)))].split(" ")
        start = int(rng.integers(0, len(passage) - 8))
        at = int(rng.integers(2, len(toks) - 1))
        toks[at:at] = passage[start:start + 8]
        docs.append(" ".join(toks))
    order = rng.permutation(len(docs))
    lang_p, src_p = zipf_probs(len(LANGS), 1.2), zipf_probs(len(SOURCES), 1.1)
    langs = rng.choice(LANGS, size=len(docs), p=lang_p)
    srcs = rng.choice(SOURCES, size=len(docs), p=src_p)
    texts = [docs[i] for i in order]
    docs_table = pa.table({
        "doc_id": pa.array(np.arange(len(docs), dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array(srcs.tolist(), pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    bench_table = pa.table({
        "bench_id": pa.array(np.arange(len(bench), dtype=np.int64)),
        "text": pa.array(bench, pa.string()),
    })
    manifest = {"docs": len(docs), "planted": counts}
    return docs_table, bench_table, manifest


# ---------------------------------------------------------------- writers


def write_notes(seed, n, out):
    table, manifest = note_rows(seed, n)
    os.makedirs(out, exist_ok=True)
    _write(table, os.path.join(out, "notes.parquet"))
    return manifest


def write_corpus(seed, n, out):
    """Documents as a ``documents.parquet`` directory of ``CORPUS_FILES``
    files (``graft.sources.Tables.load(dir, "documents")`` reads it)."""
    docs, bench, manifest = corpus_rows(seed, n)
    os.makedirs(os.path.join(out, "documents.parquet"), exist_ok=True)
    step = -(-docs.num_rows // CORPUS_FILES)
    for i in range(CORPUS_FILES):
        _write(docs.slice(i * step, step), os.path.join(out, "documents.parquet", f"part-{i:05d}.parquet"))
    _write(bench, os.path.join(out, "bench.parquet"))
    return manifest

