"""Tests for the seeded input generators: python3 -m unittest discover -s perfbench/tests"""

import glob
import hashlib
import os
import re
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)
# scratch space inside the checkout, next to the benchmark's build outputs
SCRATCH = os.path.join(os.path.dirname(BENCH), ".bench_build", "test-tmp")

import gen  # noqa: E402


def tree_digest(d):
    h = hashlib.sha256()
    for p in sorted(p for p in glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True) if os.path.isfile(p)):
        h.update(os.path.relpath(p, d).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class Determinism(unittest.TestCase):
    def write(self, writer, seed, n):
        os.makedirs(SCRATCH, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=SCRATCH) as d:
            manifest = writer(seed, n, d)
            return tree_digest(d), manifest

    def test_notes_same_seed_same_bytes(self):
        a = self.write(gen.write_notes, 5, 300)
        self.assertEqual(a, self.write(gen.write_notes, 5, 300))
        self.assertNotEqual(a[0], self.write(gen.write_notes, 6, 300)[0])

    def test_corpus_same_seed_same_bytes(self):
        a = self.write(gen.write_corpus, 5, 1000)
        self.assertEqual(a, self.write(gen.write_corpus, 5, 1000))
        self.assertNotEqual(a[0], self.write(gen.write_corpus, 6, 1000)[0])


class Notes(unittest.TestCase):
    def test_shape_and_manifest(self):
        table, m = gen.note_rows(3, 500)
        self.assertEqual(table.num_columns, 14)
        self.assertEqual(m["rows"], 500)
        ids = table.column("NOTE_ID").to_pylist()
        self.assertEqual(len(set(ids)), 500)
        self.assertEqual(m["sum_note_id"], sum(ids))
        provider = table.column("PROVIDER_ID").to_pylist()
        self.assertEqual(m["null_provider"], sum(p is None for p in provider))
        # NULLs interleaved with values, not one block
        self.assertIsNone(provider[1])
        self.assertIsNotNone(next(p for p in provider[:10] if p is not None))
        self.assertTrue(all(v is None for v in table.column("VISIT_DETAIL_ID").to_pylist()[:10]))

    def test_text_has_supplementary_plane_characters(self):
        table, m = gen.note_rows(3, 500)
        texts = table.column("NOTE_TEXT").to_pylist()
        self.assertTrue(any(any(ord(ch) > 0xFFFF for ch in t) for t in texts))
        self.assertGreater(m["sum_text_utf16"], m["sum_text_chars"])
        self.assertLessEqual(max(len(t.encode("utf-8")) for t in texts), 65536 + 16)


class Corpus(unittest.TestCase):
    def test_planted_documents_are_present(self):
        docs, bench, m = gen.corpus_rows(4, 2000)
        self.assertEqual(docs.num_rows, 2000)
        self.assertEqual(m["docs"], 2000)
        self.assertEqual(sum(m["planted"].values()), sum(round(s * 2000) for s in gen.PLANTED.values()))
        texts = docs.column("text").to_pylist()
        # exact copies: as many repeated texts as planted copies, also
        # after the pipeline's scrub step (e-mails and long numbers masked)
        self.assertEqual(len(texts) - len(set(texts)), m["planted"]["exact_dedup"])
        scrubbed = [re.sub(r"[0-9]{7,}", "<num>", re.sub(r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "<email>", t))
                    for t in texts]
        self.assertEqual(len(scrubbed) - len(set(scrubbed)), m["planted"]["exact_dedup"])
        self.assertEqual(sorted(docs.column("doc_id").to_pylist()), list(range(2000)))

    def test_benchmark_overlap_only_in_planted_documents(self):
        docs, bench, m = gen.corpus_rows(4, 2000)
        grams = set()
        for t in bench.column("text").to_pylist():
            w = t.split(" ")
            grams.update(tuple(w[i:i + 4]) for i in range(len(w) - 3))

        def contaminated(t):
            w = t.split(" ")
            return any(tuple(w[i:i + 4]) in grams for i in range(len(w) - 3))

        hits = sum(contaminated(t) for t in docs.column("text").to_pylist())
        self.assertEqual(hits, m["planted"]["decontamination"])

    def test_zipfian_groups(self):
        docs, _, _ = gen.corpus_rows(4, 2000)
        langs = docs.column("lang").to_pylist()
        counts = sorted((langs.count(x) for x in set(langs)), reverse=True)
        self.assertGreater(counts[0], 3 * counts[-1])


if __name__ == "__main__":
    unittest.main()
